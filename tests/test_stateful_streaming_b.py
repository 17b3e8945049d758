"""Streaming persisted-index protocol tests (chunk C2, split from
test_stateful_streaming.py in r12 before chunk C breached the 6:00
solo budget): the gram-index trim, minhash band screen, IVF cell
index, and IVF-PQ code index streams and their replay/compaction
bit-identity pins, plus the shared replay-watermark helpers."""

from __future__ import annotations
import pytest

import json

from reddit_hn_etl_spark import localfs
from reddit_hn_etl_spark.streaming import ingest

# The persisted-index protocol battery is exhaustive-marked per test
# (~2-3 min; run_suite chunk C2 runs it all). The four unmarked tests
# are the default-run smoke slice: together they cover the shared
# index helpers (_read_or_none, _visible, _latest, localfs.write_swap).


def _write_events_jsonl(path, rows):
    with open(path, "w", encoding="utf-8") as f:
        for event_id, ts, user_id, value in rows:
            f.write(json.dumps({
                "event_id": event_id, "ts": ts, "user_id": user_id,
                "event_type": "view", "value": value, "props": "{}",
            }) + "\n")


@pytest.mark.exhaustive
def test_trim_stream_against_gram_index(spark, tmp_path):
    """Streaming growing-corpus ExactSubstr trim: batch 0 seeds the
    persisted gram index (nothing to trim against), batch 1 is
    trimmed against it without re-reading batch 0's text. The
    streamed outputs must equal the BATCH operator applied per batch
    (b0 vs an empty index, b1 vs gram_index(b0)) — the same fixture
    as test_incremental_trim_equals_full — and the merged on-storage
    index must equal the index built from the full corpus."""
    import json
    import os as _os
    import time as _time

    from pyspark.sql import functions as F

    from reddit_hn_etl_spark.operators import dedup
    from reddit_hn_etl_spark.streaming import ingest

    shared = "alpha bravo charlie delta echo foxtrot golf"
    batch_dup = "hotel india juliet kilo lima"
    b0_rows = [
        {"doc_id": 0, "text": f"one two {shared} three"},
        {"doc_id": 2, "text": "unique0 unique1 unique2 unique3 unique4 unique5"},
    ]
    b1_rows = [
        {"doc_id": 1, "text": f"{shared} four five six seven"},
        {"doc_id": 3, "text": f"{batch_dup} mid0 {batch_dup} tail"},
        {"doc_id": 5, "text": f"x0 {batch_dup} x1"},
        {"doc_id": 7, "text": "lone0 lone1 lone2 lone3 lone4 lone5"},
    ]
    src = tmp_path / "docs"
    src.mkdir()
    # FileStreamSource orders new files by modification time — pin
    # distinct mtimes so b0 seeds the index before b1 trims.
    (src / "b0.jsonl").write_text(
        "\n".join(json.dumps(r) for r in b0_rows), encoding="utf-8"
    )
    (src / "b1.jsonl").write_text(
        "\n".join(json.dumps(r) for r in b1_rows), encoding="utf-8"
    )
    base_t = _time.time() - 100
    _os.utime(src / "b0.jsonl", (base_t, base_t))
    _os.utime(src / "b1.jsonl", (base_t + 10, base_t + 10))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = ingest.trim_stream_against_gram_index(
        stream,
        index_dir=str(tmp_path / "index"),
        out_dir=str(tmp_path / "trimmed"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        k=5,
    )
    q.awaitTermination(180)

    def trimmed_map(df):
        return {
            r.doc_id: (r.cleaned_text, r.n_tokens, r.n_tokens_removed)
            for r in df.collect()
        }

    b0 = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in b0_rows], "doc_id long, text string"
    )
    b1 = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in b1_rows], "doc_id long, text string"
    )
    empty_idx = spark.createDataFrame([], "h long, n_docs long")
    want = trimmed_map(
        dedup.trim_batch_against_index(b0, empty_idx, "doc_id", "text", k=5)
    ) | trimmed_map(
        dedup.trim_batch_against_index(
            b1, dedup.gram_index(b0, "doc_id", "text", k=5), "doc_id", "text",
            k=5,
        )
    )
    got = trimmed_map(spark.read.parquet(str(tmp_path / "trimmed")))
    assert got == want
    assert want[0][2] == 0 and want[2][2] == 0  # b0 untrimmed
    assert want[1][2] > 0 and want[3][2] > 0 and want[5][2] > 0  # b1 trimmed
    assert want[7][2] == 0  # unique b1 doc untouched

    # Merged on-storage index (replay-idempotent read) == index built
    # from the full corpus.
    idx_path = str(tmp_path / "index")

    def merged_set():
        return {
            (r.h, r.n_docs)
            for r in ingest.read_gram_index_merged(spark, idx_path).collect()
        }

    full = {
        (r.h, r.n_docs)
        for r in dedup.gram_index(
            b0.unionByName(b1), "doc_id", "text", k=5
        ).collect()
    }
    assert merged_set() == full

    # At-least-once replay: re-appending a batch's identical partial
    # rows (same batch_id) must NOT inflate the merged counts — the
    # (batch_id, h) dedup on the read side absorbs it.
    # localCheckpoint pins the replay rows NOW — the lazy plan would
    # otherwise re-scan idx_path after the compaction swap below and
    # find nothing with batch_id == 1.
    replay = (
        spark.read.parquet(idx_path)
        .where(F.col("batch_id") == 1)
        .localCheckpoint(eager=True)
    )
    assert replay.count() > 0
    replay.write.mode("append").parquet(idx_path)
    assert merged_set() == full

    # Compaction folds history into one snapshot row per gram and the
    # merged view is unchanged.
    n = ingest.compact_gram_index(spark, idx_path)
    assert n == len(full)
    assert merged_set() == full
    # A batch replayed AFTER its rows were folded into the snapshot
    # (batch_id 1 <= thru) is dropped by the watermark filter instead
    # of double-counting.
    replay.write.mode("append").parquet(idx_path)
    assert merged_set() == full


@pytest.mark.exhaustive
def test_trim_stream_replay_after_index_append_is_bit_identical(
    spark, tmp_path
):
    """ADVICE r10 (medium): a batch replayed AFTER its gram-index
    append landed but BEFORE the checkpoint commit must trim against
    the PRE-batch index — not an index containing its own grams
    (which double-counts every batch gram to min_docs and over-trims
    the replayed copy, leaving CONFLICTING rows per doc_id in
    out_dir). Simulated faithfully: run the stream to completion,
    delete the checkpoint's commit marker for the last batch, and
    restart — Spark re-runs batch 1 with the same batch_id against an
    index_dir that already holds batch 1's partial rows. The replayed
    rows must be BIT-IDENTICAL to the originals. Second restart
    exercises the compaction-ahead case: the commit marker is deleted
    again and `compact_gram_index` folds the uncommitted batch into
    the snapshot (thru >= batch_id) before the replay — the operator
    subtracts the batch's own counts back out."""
    import json
    import os as _os
    import time as _time

    from reddit_hn_etl_spark.streaming import ingest

    shared = "alpha bravo charlie delta echo foxtrot golf"
    b0_rows = [{"doc_id": 0, "text": f"one two {shared} three"}]
    b1_rows = [
        {"doc_id": 1, "text": f"{shared} four five six seven"},
        {"doc_id": 7, "text": "lone0 lone1 lone2 lone3 lone4 lone5"},
    ]
    src = tmp_path / "docs"
    src.mkdir()
    (src / "b0.jsonl").write_text(
        "\n".join(json.dumps(r) for r in b0_rows), encoding="utf-8"
    )
    (src / "b1.jsonl").write_text(
        "\n".join(json.dumps(r) for r in b1_rows), encoding="utf-8"
    )
    base_t = _time.time() - 100
    _os.utime(src / "b0.jsonl", (base_t, base_t))
    _os.utime(src / "b1.jsonl", (base_t + 10, base_t + 10))

    def run_stream():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = ingest.trim_stream_against_gram_index(
            stream,
            index_dir=str(tmp_path / "index"),
            out_dir=str(tmp_path / "trimmed"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            k=5,
        )
        q.awaitTermination(180)

    run_stream()
    out = str(tmp_path / "trimmed")
    b1_ids = {1, 7}

    def rows_by_doc():
        got: dict[int, list[tuple]] = {}
        for r in spark.read.parquet(out).collect():
            got.setdefault(r.doc_id, []).append(
                (r.cleaned_text, r.n_tokens, r.n_tokens_removed)
            )
        return got

    orig = rows_by_doc()
    assert orig[1][0][2] > 0  # shared span trimmed in doc 1
    assert orig[7][0][2] == 0

    def uncommit(batch: str) -> None:
        # remove the commit marker AND its checksum twin — a stale
        # .crc makes the replayed commit's rename fail (Hadoop
        # LocalFS) and masquerade as a concurrent-query error
        _os.remove(str(tmp_path / "ckpt" / "commits" / batch))
        crc = tmp_path / "ckpt" / "commits" / f".{batch}.crc"
        if crc.exists():
            _os.remove(str(crc))

    # Replay #1: index append landed, commit marker gone.
    uncommit("1")
    run_stream()
    got = rows_by_doc()
    for d in b1_ids:
        assert len(got[d]) == 2 and set(got[d]) == {orig[d][0]}, (
            f"replayed doc {d} rows not bit-identical: {got[d]}"
        )

    # Replay #2: a compaction folded the uncommitted batch first.
    uncommit("1")
    ingest.compact_gram_index(spark, str(tmp_path / "index"))
    run_stream()
    got = rows_by_doc()
    for d in b1_ids:
        assert len(got[d]) == 3 and set(got[d]) == {orig[d][0]}, (
            f"post-compaction replayed doc {d} diverged: {got[d]}"
        )


@pytest.mark.exhaustive
def test_stream_screen_against_minhash_index(spark, tmp_path):
    """Streaming incremental near-dup: batch 1 seeds the persisted
    index (no hits possible), batch 2's near-dup of a batch-1 doc is
    flagged against the index without re-reading batch 1's text."""
    import json

    from reddit_hn_etl_spark.streaming import ingest

    a = ("the quick brown fox jumps over the lazy dog near the river "
         "bank today in the morning light")
    b = ("spark dataframes shuffle partitions while the optimizer "
         "prunes columns and pipelines operators")
    src = tmp_path / "docs"
    src.mkdir()
    # One file per micro-batch (maxFilesPerTrigger=1). FileStreamSource
    # orders new files by MODIFICATION TIME, not name — pin distinct
    # mtimes so b0 is guaranteed to seed the index before b1 screens.
    import os as _os
    import time as _time

    (src / "b0.jsonl").write_text(
        "\n".join(json.dumps(r) for r in [
            {"doc_id": 1, "text": a},
            {"doc_id": 2, "text": b},
        ]), encoding="utf-8",
    )
    (src / "b1.jsonl").write_text(
        json.dumps({"doc_id": 3, "text": a + " extra"}), encoding="utf-8"
    )
    base_t = _time.time() - 100
    _os.utime(src / "b0.jsonl", (base_t, base_t))
    _os.utime(src / "b1.jsonl", (base_t + 10, base_t + 10))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = ingest.screen_stream_against_minhash_index(
        stream,
        index_dir=str(tmp_path / "index"),
        hits_dir=str(tmp_path / "hits"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        num_hashes=64, bands=32, shingle_n=1, threshold=0.5,
    )
    q.awaitTermination(180)
    hits = {
        (r.doc_old, r.doc_new): r.est_jaccard
        for r in spark.read.parquet(str(tmp_path / "hits")).collect()
    }
    assert (1, 3) in hits and hits[(1, 3)] > 0.6
    assert all(old != 2 for old, _new in hits)  # unrelated doc silent
    # The index now holds band rows for ALL docs, batch 2 included.
    idx_path = str(tmp_path / "index")
    idx = spark.read.parquet(idx_path)
    assert set(r.doc_id for r in idx.select("doc_id").distinct().collect()) == {1, 2, 3}

    # --- compaction twin (VERDICT r10 #5): same replay-watermark
    # protocol as the gram index ---
    from pyspark.sql import functions as F

    def merged_rows():
        return {
            (r.doc_id, r.band, r.bucket)
            for r in ingest.read_minhash_index_merged(
                spark, idx_path
            ).collect()
        }

    full = merged_rows()
    assert {d for d, _, _ in full} == {1, 2, 3}
    # at-least-once replay of batch 1's band rows: absorbed by the
    # (batch_id, id, band) dedup on the read side
    replay = (
        spark.read.parquet(idx_path)
        .where(F.col("batch_id") == 1)
        .localCheckpoint(eager=True)  # pin rows before the swap below
    )
    assert replay.count() > 0
    replay.write.mode("append").partitionBy("band").parquet(idx_path)
    assert merged_rows() == full

    # compaction folds history into one snapshot row per (doc, band)
    n = ingest.compact_minhash_index(spark, idx_path)
    assert n == len(full)
    assert merged_rows() == full
    snap = spark.read.parquet(idx_path)
    assert snap.where(F.col("batch_id") >= 0).count() == 0
    # a batch replayed AFTER its rows were folded (batch_id <= thru)
    # is dropped by the watermark filter instead of re-appearing
    replay.write.mode("append").partitionBy("band").parquet(idx_path)
    assert merged_rows() == full
    # (the before_batch bound — a batch never screening against its
    # own uncommitted append — is pinned end-to-end by
    # test_screen_stream_replay_after_index_append_is_bit_identical)


@pytest.mark.exhaustive
def test_screen_stream_replay_after_index_append_is_bit_identical(
    spark, tmp_path
):
    """r11: the minhash screen twin of the gram-index replay pin — a
    batch replayed after its band rows were appended (failure between
    the index append and the checkpoint commit) must screen against
    the PRE-batch index, so the replayed hits are bit-identical
    duplicates, not a superset with batch-self pairs."""
    import json
    import os as _os
    import time as _time

    from reddit_hn_etl_spark.streaming import ingest

    a = ("the quick brown fox jumps over the lazy dog near the river "
         "bank today in the morning light")
    src = tmp_path / "docs"
    src.mkdir()
    (src / "b0.jsonl").write_text(
        json.dumps({"doc_id": 1, "text": a}), encoding="utf-8"
    )
    (src / "b1.jsonl").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"doc_id": 3, "text": a + " extra"},
                {"doc_id": 4, "text": a + " bonus"},
            ]
        ),
        encoding="utf-8",
    )
    base_t = _time.time() - 100
    _os.utime(src / "b0.jsonl", (base_t, base_t))
    _os.utime(src / "b1.jsonl", (base_t + 10, base_t + 10))

    def run_stream():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = ingest.screen_stream_against_minhash_index(
            stream,
            index_dir=str(tmp_path / "index"),
            hits_dir=str(tmp_path / "hits"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            num_hashes=64, bands=32, shingle_n=1, threshold=0.5,
        )
        q.awaitTermination(180)

    run_stream()

    def hit_rows():
        got: dict[tuple, int] = {}
        for r in spark.read.parquet(str(tmp_path / "hits")).collect():
            key = (r.doc_old, r.doc_new, r.est_jaccard)
            got[key] = got.get(key, 0) + 1
        return got

    orig = hit_rows()
    # docs 3 and 4 both hit doc 1; WITHOUT the before_batch bound a
    # replay would also emit (3,4)/(4,3) batch-self pairs
    assert {(o, n) for o, n, _ in orig} == {(1, 3), (1, 4)}

    def uncommit(batch: str) -> None:
        _os.remove(str(tmp_path / "ckpt" / "commits" / batch))
        crc = tmp_path / "ckpt" / "commits" / f".{batch}.crc"
        if crc.exists():
            _os.remove(str(crc))

    # Replay #1: band rows landed, commit marker gone.
    uncommit("1")
    run_stream()
    got = hit_rows()
    assert set(got) == set(orig) and all(c == 2 for c in got.values()), got

    # Replay #2: compaction folded the uncommitted batch first
    # (thru >= batch_id) — the anti-join on the batch's own ids
    # reconstructs the pre-batch index.
    uncommit("1")
    ingest.compact_minhash_index(spark, str(tmp_path / "index"))
    run_stream()
    got = hit_rows()
    assert set(got) == set(orig) and all(c == 3 for c in got.values()), got


@pytest.mark.exhaustive
def test_ivf_index_stream_matches_batch_and_replays(
    spark, tmp_path, sf_dir
):
    """Streaming incremental IVF twin (VERDICT r10 #7): vectors
    arriving in micro-batches are cell-assigned against a FIXED
    quantizer and appended to a persisted index; the result must be
    BIT-IDENTICAL to the batch corpus assignment, a kNN-join against
    the persisted index must return EXACTLY what knn_cosine_ivf
    (distributed path) computes end-to-end over the same corpus and
    centroids, and the index follows the shared replay-watermark
    protocol (replay dedup, compaction, post-compaction replay)."""
    from pyspark.sql import functions as F

    from reddit_hn_etl_spark.operators import similarity
    from reddit_hn_etl_spark.sources.tables import read_table
    from reddit_hn_etl_spark.streaming import ingest

    emb = read_table(spark, sf_dir, "embeddings").localCheckpoint(
        eager=True
    )
    centroids = similarity.kmeans_centroids(emb, dim=64, n_cells=8, iters=2)

    # two micro-batches by vec_id parity, as json files
    src = tmp_path / "vecs"
    src.mkdir()
    import json as _json
    import os as _os
    import time as _time

    rows = [(r.vec_id, [float(x) for x in r.embedding]) for r in emb.collect()]
    half = len(rows) // 2
    for i, chunk in enumerate((rows[:half], rows[half:])):
        (src / f"b{i}.jsonl").write_text(
            "\n".join(
                _json.dumps({"vec_id": v, "embedding": e}) for v, e in chunk
            ),
            encoding="utf-8",
        )
    base_t = _time.time() - 100
    _os.utime(src / "b0.jsonl", (base_t, base_t))
    _os.utime(src / "b1.jsonl", (base_t + 10, base_t + 10))

    idx_dir = str(tmp_path / "ivf_index")

    def run_stream():
        stream = (
            spark.readStream.schema("vec_id long, embedding array<double>")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = ingest.ivf_index_stream(
            stream, centroids, idx_dir, str(tmp_path / "ckpt")
        )
        q.awaitTermination(180)

    run_stream()

    # 1. streamed index == batch carrying assignment, bit-equal cells
    batch_assign = similarity._assign_probe_cells(
        emb, "vec_id", "embedding", centroids, 1,
        vec_out="embedding", norm_out="_cn",
    )
    want = {(r.vec_id, r.cell) for r in batch_assign.collect()}
    merged = ingest.read_ivf_index_merged(spark, idx_dir)
    got = {(r.vec_id, r.cell) for r in merged.collect()}
    assert got == want and len(got) == len(rows)

    # 2. kNN-join against the persisted index == knn_cosine_ivf
    # distributed end-to-end (same centroids: n_cells=8, iters=2)
    q5 = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    via_index = {
        tuple(r)
        for r in similarity.knn_join_ivf_index(
            ingest.read_ivf_index_merged(spark, idx_dir), q5, centroids,
            k=5, n_probe=4,
        ).collect()
    }
    end_to_end = {
        tuple(r)
        for r in similarity.knn_cosine_ivf(
            emb, q5, dim=64, k=5, n_cells=8, n_probe=4, iters=2,
            distributed_queries=True,
        ).collect()
    }
    assert via_index == end_to_end and len(via_index) == 25

    # 3. replay-watermark protocol: replay dedups, compaction folds,
    # post-compaction replay is dropped
    replay = (
        spark.read.parquet(idx_dir)
        .where(F.col("batch_id") == 1)
        .localCheckpoint(eager=True)
    )
    assert replay.count() > 0
    replay.write.mode("append").partitionBy("cell").parquet(idx_dir)
    assert {
        (r.vec_id, r.cell)
        for r in ingest.read_ivf_index_merged(spark, idx_dir).collect()
    } == want
    n = ingest.compact_ivf_index(spark, idx_dir)
    assert n == len(rows)
    snap = spark.read.parquet(idx_dir)
    assert snap.where(F.col("batch_id") >= 0).count() == 0
    replay.write.mode("append").partitionBy("cell").parquet(idx_dir)
    assert {
        (r.vec_id, r.cell)
        for r in ingest.read_ivf_index_merged(spark, idx_dir).collect()
    } == want

    # 4. offline re-center: refit over the indexed vectors must equal
    # a fresh batch fit over the corpus (the index stores the vectors
    # bit-exactly), and the rebuilt index must equal the batch
    # carrying assignment against the refit centroids end-to-end
    refit = ingest.recenter_ivf_index(
        spark, idx_dir, dim=64, n_cells=12, iters=2
    )
    fresh = similarity.kmeans_centroids(emb, dim=64, n_cells=12, iters=2)
    assert refit == fresh
    want2 = {
        (r.vec_id, r.cell)
        for r in similarity._assign_probe_cells(
            emb, "vec_id", "embedding", refit, 1,
            vec_out="embedding", norm_out="_cn",
        ).collect()
    }
    got2 = {
        (r.vec_id, r.cell)
        for r in ingest.read_ivf_index_merged(spark, idx_dir).collect()
    }
    assert got2 == want2
    via_index2 = {
        tuple(r)
        for r in similarity.knn_join_ivf_index(
            ingest.read_ivf_index_merged(spark, idx_dir), q5, refit,
            k=5, n_probe=4,
        ).collect()
    }
    end_to_end2 = {
        tuple(r)
        for r in similarity.knn_cosine_ivf(
            emb, q5, dim=64, k=5, n_cells=12, n_probe=4, iters=2,
            distributed_queries=True,
        ).collect()
    }
    assert via_index2 == end_to_end2 and len(via_index2) == 25


@pytest.mark.exhaustive
def test_pq_index_stream_matches_inline_join_and_replays(
    spark, tmp_path, sf_dir
):
    """Streaming incremental IVF-PQ index (r11, the compressed twin
    of ivf_index_stream): codes streamed per batch against fixed
    centroids/codebooks must be BIT-IDENTICAL to the inline encode,
    `pq_knn_join(encoded=merged_index)` must reproduce the inline
    join exactly (raw AND residual), and the index follows the shared
    replay-watermark protocol."""
    import json as _json
    import os as _os
    import time as _time

    from pyspark.sql import functions as F

    from reddit_hn_etl_spark.operators import kmeans, similarity
    from reddit_hn_etl_spark.sources.tables import read_table
    from reddit_hn_etl_spark.streaming import ingest

    cc = kmeans.seeded_centroids(dim=64, k=8, seed=11)
    cb = similarity.pq_codebooks(dim=64, n_sub=8, k=16, seed=101)
    emb = read_table(spark, sf_dir, "embeddings").localCheckpoint(
        eager=True
    )
    qdf = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    rows = [(r.vec_id, [float(x) for x in r.embedding]) for r in emb.collect()]
    src = tmp_path / "vecs"
    src.mkdir()
    half = len(rows) // 2
    for i, chunk in enumerate((rows[:half], rows[half:])):
        (src / f"b{i}.jsonl").write_text(
            "\n".join(
                _json.dumps({"vec_id": v, "embedding": e}) for v, e in chunk
            ),
            encoding="utf-8",
        )
    base_t = _time.time() - 100
    _os.utime(src / "b0.jsonl", (base_t, base_t))
    _os.utime(src / "b1.jsonl", (base_t + 10, base_t + 10))

    for residual in (False, True):
        idx_dir = str(tmp_path / f"pq_index_{residual}")
        stream = (
            spark.readStream.schema("vec_id long, embedding array<double>")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = ingest.pq_index_stream(
            stream, cc, cb, idx_dir,
            str(tmp_path / f"ckpt_{residual}"), residual=residual,
        )
        q.awaitTermination(180)

        # 1. streamed codes == inline encode, bit-identical
        want = {
            (r.vec_id, r.cell, tuple(r.codes))
            for r in similarity.pq_encode_corpus(
                emb, cc, cb, residual=residual
            ).select("vec_id", "cell", "codes").collect()
        }
        merged = ingest.read_pq_index_merged(spark, idx_dir)
        got = {
            (r.vec_id, r.cell, tuple(r.codes)) for r in merged.collect()
        }
        assert got == want and len(got) == len(rows)

        # 2. join over the persisted index == inline join, exactly
        via_index = {
            tuple(r)
            for r in similarity.pq_knn_join(
                None, qdf, cc, cb, nprobe=3, k=10, residual=residual,
                encoded=ingest.read_pq_index_merged(spark, idx_dir),
            ).collect()
        }
        inline = {
            tuple(r)
            for r in similarity.pq_knn_join(
                emb, qdf, cc, cb, nprobe=3, k=10, residual=residual,
            ).collect()
        }
        assert via_index == inline and len(via_index) == 40

        # 3. replay-watermark protocol
        replay = (
            spark.read.parquet(idx_dir)
            .where(F.col("batch_id") == 1)
            .localCheckpoint(eager=True)
        )
        assert replay.count() > 0
        replay.write.mode("append").partitionBy("cell").parquet(idx_dir)
        assert {
            (r.vec_id, r.cell, tuple(r.codes))
            for r in ingest.read_pq_index_merged(spark, idx_dir).collect()
        } == want
        n = ingest.compact_pq_index(spark, idx_dir)
        assert n == len(rows)
        replay.write.mode("append").partitionBy("cell").parquet(idx_dir)
        assert {
            (r.vec_id, r.cell, tuple(r.codes))
            for r in ingest.read_pq_index_merged(spark, idx_dir).collect()
        } == want


def test_read_index_dir_contract(spark, tmp_path):
    """ADVICE r11: the foreachBatch "first batch" branch must fire
    ONLY on a missing dir. A dir that exists WITHOUT the replay-
    protocol columns (a pre-protocol index) must fail loudly instead
    of being silently treated as empty — that failure mode dropped
    every existing near-dup band row and appended mixed-schema
    files."""
    import pytest

    missing = str(tmp_path / "nope")
    assert ingest._read_index_dir(spark, missing) is None

    legacy = str(tmp_path / "legacy_idx")
    spark.createDataFrame(
        [(1, 0, 7), (2, 1, 9)], "doc_id long, band int, bucket long"
    ).write.parquet(legacy)
    with pytest.raises(ValueError, match="replay-protocol"):
        ingest._read_index_dir(spark, legacy)

    ok = str(tmp_path / "ok_idx")
    spark.createDataFrame(
        [(1, 0, 7, 0, None)],
        "doc_id long, band int, bucket long, batch_id long, thru long",
    ).write.parquet(ok)
    got = ingest._read_index_dir(spark, ok)
    assert got is not None and got.count() == 1


def test_screen_stream_fails_loudly_on_pre_protocol_index(spark, tmp_path):
    """End-to-end twin of the contract test: streaming against a
    pre-protocol minhash index dir surfaces the migration error
    through the streaming query instead of screening against
    nothing."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    src = tmp_path / "src"
    src.mkdir()
    with open(src / "b1.jsonl", "w", encoding="utf-8") as f:
        f.write(json.dumps({"doc_id": 1, "text": "alpha beta gamma"}) + "\n")
    legacy = str(tmp_path / "idx")
    spark.createDataFrame(
        [(99, [1, 2], 0, 7)],
        "doc_id long, sig array<long>, band int, bucket long",
    ).write.partitionBy("band").parquet(legacy)
    docs = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = ingest.screen_stream_against_minhash_index(
        docs, legacy, str(tmp_path / "hits"), str(tmp_path / "ckpt")
    )
    with pytest.raises(StreamingQueryException, match="replay-protocol"):
        q.awaitTermination()


def test_row_index_last_write_wins_read_and_compaction(spark, tmp_path):
    """ADVICE r11: a key re-delivered in two un-folded batches must
    resolve deterministically to its NEWEST row — on the merged read,
    in the compaction snapshot, and identically before and after
    compaction (compaction is invisible to readers)."""
    idx = str(tmp_path / "idx")
    rows1 = [(10, 0, [1, 1]), (11, 1, [2, 2])]
    rows2 = [(10, 2, [9, 9]), (12, 0, [3, 3])]  # vec 10 re-delivered
    for batch_id, rows in ((0, rows1), (1, rows2)):
        spark.createDataFrame(
            [(v, c, codes, batch_id, None) for v, c, codes in rows],
            "vec_id long, cell int, codes array<int>, batch_id long, thru long",
        ).write.mode("append").partitionBy("cell").parquet(idx)

    want = {
        (10, 2, (9, 9)),  # batch 1 wins over batch 0
        (11, 1, (2, 2)),
        (12, 0, (3, 3)),
    }

    def merged_set():
        return {
            (r.vec_id, r.cell, tuple(r.codes))
            for r in ingest.read_pq_index_merged(spark, idx).collect()
        }

    assert merged_set() == want
    n = ingest.compact_pq_index(spark, idx)
    assert n == 3  # one snapshot row per key, not 4
    assert merged_set() == want
    # a third batch updates vec 10 again on top of the snapshot
    spark.createDataFrame(
        [(10, 1, [5, 5], 2, None)],
        "vec_id long, cell int, codes array<int>, batch_id long, thru long",
    ).write.mode("append").partitionBy("cell").parquet(idx)
    want_after = {(10, 1, (5, 5)), (11, 1, (2, 2)), (12, 0, (3, 3))}
    assert merged_set() == want_after
    ingest.compact_pq_index(spark, idx)
    assert merged_set() == want_after


@pytest.mark.exhaustive
def test_ivf_drift_report_moves_under_drift(spark, tmp_path):
    """VERDICT r11 #3: the drift metric recorded at compaction time
    must MOVE when the incoming distribution drifts away from the
    fixed quantizer. Synthetic 8-dim axis clusters: the quantizer is
    fitted on +axis data; an in-distribution batch reports ~zero
    mean-cos drop, a -axis (drifted) batch reports a large drop and
    piles into few cells (skew). Also pins the report plumbing:
    sidecar history rows keyed by pre-fold thru, no report when
    centroids aren't passed, baseline None before the first fold."""
    from pyspark.sql import functions as F

    from reddit_hn_etl_spark.operators import similarity

    dim = 8

    def axis_vec(cluster, i, sign=1.0):
        v = [0.0] * dim
        v[cluster] = sign
        v[(cluster + 1) % dim] = 0.01 * ((i % 7) - 3)  # tiny spread
        return v

    base = [(i, axis_vec(i % dim, i)) for i in range(160)]
    base_df = spark.createDataFrame(
        base, "vec_id long, embedding array<double>"
    )
    centroids = similarity.kmeans_centroids(
        base_df, dim=dim, n_cells=dim, iters=2
    )
    idx = str(tmp_path / "idx")

    def append_batch(rows, batch_id):
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        similarity._assign_probe_cells(
            df, "vec_id", "embedding", centroids, 1,
            vec_out="embedding", norm_out="_cn",
        ).withColumn("batch_id", F.lit(batch_id).cast("long")).withColumn(
            "thru", F.lit(None).cast("long")
        ).write.mode("append").partitionBy("cell").parquet(idx)

    # batch 0: the fit population itself -> first compaction has no
    # snapshot baseline yet
    append_batch(base, 0)
    n = ingest.compact_ivf_index(spark, idx, centroids=centroids)
    assert n == 160
    hist = ingest.read_ivf_drift_history(spark, idx).orderBy("thru")
    r0 = hist.collect()[0]
    assert r0.thru == -1 and r0.n_snapshot == 0 and r0.n_new == 160
    assert r0.base_mean_cos is None and r0.mean_cos_drop is None
    assert r0.new_mean_cos > 0.95  # in-distribution assigns tightly

    # batch 1: more in-distribution data -> drop ~ 0
    append_batch(
        [(1000 + i, axis_vec(i % dim, i)) for i in range(80)], 1
    )
    ingest.compact_ivf_index(spark, idx, centroids=centroids)
    r1 = ingest.read_ivf_drift_history(spark, idx).orderBy("thru").collect()[1]
    assert r1.n_snapshot == 160 and r1.n_new == 80
    assert abs(r1.mean_cos_drop) < 0.02, r1.mean_cos_drop
    healthy_skew = r1.cell_skew

    # batch 2: DRIFTED -axis data -> large drop, worse tail, skew up
    append_batch(
        [(2000 + i, axis_vec(i % 2, i, sign=-1.0)) for i in range(80)], 2
    )
    ingest.compact_ivf_index(spark, idx, centroids=centroids)
    r2 = ingest.read_ivf_drift_history(spark, idx).orderBy("thru").collect()[2]
    assert r2.n_new == 80 and r2.n_snapshot == 240
    assert r2.mean_cos_drop > 0.5, r2.mean_cos_drop
    assert r2.new_p05_cos < r2.base_p05_cos - 0.5
    assert r2.cell_skew > healthy_skew  # -axis data piles into 2 cells

    # compaction WITHOUT centroids records nothing (back-compat)
    n_hist = ingest.read_ivf_drift_history(spark, idx).count()
    ingest.compact_ivf_index(spark, idx)
    assert ingest.read_ivf_drift_history(spark, idx).count() == n_hist


@pytest.mark.exhaustive
def test_pq_drift_report_moves_under_drift(spark, tmp_path, sf_dir):
    """The PQ twin of the IVF drift report: the index stores codes,
    not vectors, so the codebook-fit signal is the recon_err each row
    carried from encode time. In-distribution batches report ~zero
    mean-err rise; a drifted batch (vectors scaled 5x — squared
    reconstruction error scales ~25x against codebooks trained at
    unit scale) must move the rise and the p95 tail. Also pins the
    loud failure on a pre-recon_err index dir and the no-track
    back-compat path."""
    import pytest
    from pyspark.sql import functions as F

    from reddit_hn_etl_spark.operators import kmeans, similarity
    from reddit_hn_etl_spark.sources.tables import read_table

    cc = kmeans.seeded_centroids(dim=64, k=8, seed=11)
    cb = similarity.pq_codebooks(dim=64, n_sub=8, k=16, seed=101)
    emb = read_table(spark, sf_dir, "embeddings").localCheckpoint(eager=True)
    idx = str(tmp_path / "pq_idx")

    def append_batch(df, batch_id):
        similarity.pq_encode_corpus(df, cc, cb).select(
            "vec_id", "cell", "codes", "recon_err"
        ).withColumn("batch_id", F.lit(batch_id).cast("long")).withColumn(
            "thru", F.lit(None).cast("long")
        ).write.mode("append").partitionBy("cell").parquet(idx)

    n = emb.count()
    append_batch(emb, 0)
    ingest.compact_pq_index(spark, idx, track_drift=True)
    hist = ingest.read_pq_drift_history(spark, idx).orderBy("thru").collect()
    assert hist[0].thru == -1 and hist[0].n_snapshot == 0
    assert hist[0].n_new == n and hist[0].mean_err_rise is None

    # in-distribution: the same vectors under new ids -> rise ~ 0
    shifted_ids = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    append_batch(shifted_ids, 1)
    ingest.compact_pq_index(spark, idx, track_drift=True)
    r1 = ingest.read_pq_drift_history(spark, idx).orderBy("thru").collect()[1]
    assert r1.n_snapshot == n and r1.n_new == n
    assert abs(r1.mean_err_rise) < 1e-9  # identical distribution

    # drifted: 5x-scaled vectors -> squared err ~25x, rise large
    scaled = emb.select(
        (F.col("vec_id") + 200000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 5.0).alias("embedding"),
    )
    append_batch(scaled, 2)
    ingest.compact_pq_index(spark, idx, track_drift=True)
    r2 = ingest.read_pq_drift_history(spark, idx).orderBy("thru").collect()[2]
    assert r2.n_new == n and r2.n_snapshot == 2 * n
    assert r2.mean_err_rise > 5 * r2.base_mean_err, (
        r2.mean_err_rise, r2.base_mean_err
    )
    assert r2.new_p95_err > 5 * r2.base_p95_err

    # back-compat: compaction without track_drift records nothing
    n_hist = ingest.read_pq_drift_history(spark, idx).count()
    ingest.compact_pq_index(spark, idx)
    assert ingest.read_pq_drift_history(spark, idx).count() == n_hist

    # a pre-r12 index (no recon_err) fails LOUDLY, never silently
    legacy = str(tmp_path / "legacy_idx")
    similarity.pq_encode_corpus(emb, cc, cb).select(
        "vec_id", "cell", "codes"
    ).withColumn("batch_id", F.lit(0).cast("long")).withColumn(
        "thru", F.lit(None).cast("long")
    ).write.mode("append").partitionBy("cell").parquet(legacy)
    with pytest.raises(ValueError, match="recon_err"):
        ingest.pq_index_drift_report(spark, legacy)


@pytest.mark.exhaustive
def test_persisted_pq_plus_ivf_rerank_composition(spark, tmp_path, sf_dir):
    """The full persisted-index production wiring, zero new API: the
    PQ index supplies the compressed candidates (encoded=), the IVF
    index supplies the raw vectors for the exact-rerank fetch
    (corpus_vectors= — its rows store the vectors bit-exactly), and
    the composed join must equal the inline-everything rerank join
    row-for-row. This is the 100 TB shape: neither the codes nor the
    vectors are re-derived per query batch."""
    from pyspark.sql import functions as F

    from reddit_hn_etl_spark.operators import kmeans, similarity
    from reddit_hn_etl_spark.sources.tables import read_table

    cc = kmeans.seeded_centroids(dim=64, k=8, seed=11)
    cb = similarity.pq_codebooks(dim=64, n_sub=8, k=16, seed=101)
    emb = read_table(spark, sf_dir, "embeddings").localCheckpoint(eager=True)
    centroids = [[float(x) for x in c] for c in cc]

    pq_idx = str(tmp_path / "pq_idx")
    similarity.pq_encode_corpus(emb, cc, cb).select(
        "vec_id", "cell", "codes", "recon_err"
    ).withColumn("batch_id", F.lit(0).cast("long")).withColumn(
        "thru", F.lit(None).cast("long")
    ).write.mode("append").partitionBy("cell").parquet(pq_idx)

    ivf_idx = str(tmp_path / "ivf_idx")
    similarity._assign_probe_cells(
        emb, "vec_id", "embedding", centroids, 1,
        vec_out="embedding", norm_out="_cn",
    ).withColumn("batch_id", F.lit(0).cast("long")).withColumn(
        "thru", F.lit(None).cast("long")
    ).write.mode("append").partitionBy("cell").parquet(ivf_idx)

    qdf = emb.where(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    composed = {
        tuple(r)
        for r in similarity.pq_knn_join(
            None, qdf, cc, cb, nprobe=3, k=10, rerank=40,
            encoded=ingest.read_pq_index_merged(spark, pq_idx),
            corpus_vectors=ingest.read_ivf_index_merged(spark, ivf_idx),
        ).collect()
    }
    inline = {
        tuple(r)
        for r in similarity.pq_knn_join(
            emb, qdf, cc, cb, nprobe=3, k=10, rerank=40
        ).collect()
    }
    assert composed == inline and len(composed) == 60


@pytest.mark.exhaustive
def test_minibatch_tracked_recenter_closes_drift_loop(spark, tmp_path):
    """The full drift loop at O(batch) tracking cost (VERDICT r11 #6
    paired with #3): an index built on +axis data ingests a drifted
    -axis batch; the drift report records the assignment-quality
    drop; a candidate quantizer tracked by
    kmeans.update_centroids_minibatch over ONLY the new rows feeds
    recenter_ivf_index(centroids=) — which skips the O(corpus x
    iters) refit — and the rebuilt index (a) matches the carrying
    assignment against the tracked centroids exactly and (b) reports
    a recovered assignment cosine for the formerly-drifted rows."""
    from pyspark.sql import functions as F

    from reddit_hn_etl_spark.operators import kmeans, similarity

    dim = 4

    def vecs(n, axis, sign, start):
        rows = []
        for i in range(n):
            v = [0.0] * dim
            v[axis] = sign
            v[(axis + 1) % dim] = 0.01 * ((i % 5) - 2)
            rows.append((start + i, v))
        return rows

    base = vecs(60, 0, 1.0, 0) + vecs(60, 1, 1.0, 100)
    base_df = spark.createDataFrame(
        base, "vec_id long, embedding array<double>"
    )
    centroids = similarity.kmeans_centroids(
        base_df, dim=dim, n_cells=2, iters=3
    )
    idx = str(tmp_path / "idx")

    def append_batch(rows, batch_id, cents):
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        similarity._assign_probe_cells(
            df, "vec_id", "embedding", cents, 1,
            vec_out="embedding", norm_out="_cn",
        ).withColumn("batch_id", F.lit(batch_id).cast("long")).withColumn(
            "thru", F.lit(None).cast("long")
        ).write.mode("append").partitionBy("cell").parquet(idx)

    append_batch(base, 0, centroids)
    ingest.compact_ivf_index(spark, idx, centroids=centroids)

    # drifted batch: -axis data the fixed quantizer assigns badly
    drifted = vecs(80, 0, -1.0, 1000)
    append_batch(drifted, 1, centroids)
    report = ingest.ivf_index_drift_report(spark, idx, centroids)
    assert report["mean_cos_drop"] > 0.5  # the trigger fires

    # cheap half: track a candidate quantizer from ONLY the new rows
    new_rows = (
        spark.read.parquet(idx)
        .where(F.col("batch_id") > report["thru"])
        .select("vec_id", "embedding")
    )
    counts = [60, 60]  # baseline per-cell mass from the build
    tracked, counts = kmeans.update_centroids_minibatch(
        new_rows, centroids, counts
    )
    # triggered recenter: rebuild with the tracked quantizer, NO refit
    got = ingest.recenter_ivf_index(
        spark, idx, dim=dim, n_cells=2, centroids=tracked
    )
    assert got == tracked
    merged = ingest.read_ivf_index_merged(spark, idx)
    want = {
        (r.vec_id, r.cell)
        for r in similarity._assign_probe_cells(
            spark.createDataFrame(
                base + drifted, "vec_id long, embedding array<double>"
            ),
            "vec_id", "embedding", tracked, 1,
            vec_out="embedding", norm_out="_cn",
        ).collect()
    }
    assert {(r.vec_id, r.cell) for r in merged.collect()} == want

    # recovered: the rebuilt snapshot's assignment cosine under the
    # tracked quantizer beats the drifted report's new-rows cosine
    after = ingest.ivf_index_drift_report(spark, idx, tracked)
    assert after["n_snapshot"] == 200 and after["n_new"] == 0
    assert after["base_mean_cos"] > report["new_mean_cos"] + 0.3

    # validation: wrong-shaped precomputed centroids raise
    import pytest as _pytest

    with _pytest.raises(ValueError, match="must be"):
        ingest.recenter_ivf_index(
            spark, idx, dim=dim, n_cells=3, centroids=tracked
        )


def test_gram_index_scheme_marker(spark, tmp_path):
    """ADVICE r12: the r12 gram-hash change (composed doubling-ladder
    hashes, scheme 2) made every pre-r12 persisted gram_index dir
    silently incompatible (disjoint hash values -> missed duplicate
    spans). The dir now carries a scheme marker; reads and appends
    against a dir without it (or with a different scheme) must fail
    loudly, and the marker must survive compaction."""
    import pytest

    # (a) pre-marker dir with data: every entry point refuses
    legacy = str(tmp_path / "legacy_gram")
    spark.createDataFrame(
        [(123456789, 2, 0, None)], "h long, n_docs long, batch_id long, thru long"
    ).write.parquet(legacy)
    for fn in (
        lambda: ingest.read_gram_index_merged(spark, legacy),
        lambda: ingest.compact_gram_index(spark, legacy),
        lambda: ingest._check_gram_scheme(legacy, create=True),
    ):
        with pytest.raises(ValueError, match="scheme"):
            fn()

    # (b) wrong-scheme marker refuses identically
    import os

    wrong = str(tmp_path / "wrong_gram")
    spark.createDataFrame(
        [(1, 1, 0, None)], "h long, n_docs long, batch_id long, thru long"
    ).write.parquet(wrong)
    with open(os.path.join(wrong, ingest._GRAM_SCHEME_MARKER), "w") as fh:
        fh.write("1")
    with pytest.raises(ValueError, match="scheme 1"):
        ingest.read_gram_index_merged(spark, wrong)

    # (c) writer path stamps a fresh dir; reads + compaction keep it
    fresh = str(tmp_path / "fresh_gram")
    ingest._check_gram_scheme(fresh, create=True)
    marker = os.path.join(fresh, ingest._GRAM_SCHEME_MARKER)
    assert open(marker).read() == str(ingest._GRAM_HASH_SCHEME)
    # marker-only dir reads back as an empty index, not an error
    assert ingest._read_index_dir(spark, fresh) is None
    spark.createDataFrame(
        [(42, 1, 0, None), (42, 1, 1, None)],
        "h long, n_docs long, batch_id long, thru long",
    ).write.mode("append").parquet(fresh)
    got = {
        (r.h, r.n_docs)
        for r in ingest.read_gram_index_merged(spark, fresh).collect()
    }
    assert got == {(42, 2)}
    assert ingest.compact_gram_index(spark, fresh) == 1
    assert open(marker).read() == str(ingest._GRAM_HASH_SCHEME)
    assert {
        (r.h, r.n_docs)
        for r in ingest.read_gram_index_merged(spark, fresh).collect()
    } == {(42, 2)}


def test_local_protocol_refuses_uri_paths(spark, tmp_path, monkeypatch):
    """The swap/marker protocol works through os/shutil, which would
    take ``s3://bucket/idx`` for the relative local path
    ``s3:/bucket/idx``. Every entry point refuses a URI with a
    ValueError naming it, before anything is written — no ``s3:`` dir
    appears in the working directory and no streaming query starts."""
    import pytest

    monkeypatch.chdir(tmp_path)
    uri = "s3://bucket/idx"
    with pytest.raises(ValueError, match="s3://bucket/idx"):
        ingest._check_gram_scheme(uri, create=True)
    with pytest.raises(ValueError, match="URI"):
        ingest._read_index_dir(spark, uri)
    with pytest.raises(ValueError, match="URI"):
        localfs.write_swap(spark.range(1), uri, "_compacting")

    raw = tmp_path / "raw"
    raw.mkdir()
    before = len(spark.streams.active)
    with pytest.raises(ValueError, match="s3://bucket/staging"):
        ingest.stream_merge_to_staging(
            ingest.read_raw_stream(spark, str(raw)),
            "s3://bucket/staging", str(tmp_path / "ckpt"),
            available_now=True,
        )
    with pytest.raises(ValueError, match="s3://bucket/cdc"):
        ingest.cdc_apply_stream(
            spark.readStream.schema(
                "user_id long, us long, event_id long, op string, cents long"
            ).json(str(raw)),
            "s3://bucket/cdc", str(tmp_path / "ckpt_cdc"),
        )
    assert len(spark.streams.active) == before
    assert not (tmp_path / "s3:").exists()
    assert not (tmp_path / "ckpt").exists()
