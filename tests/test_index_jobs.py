"""Spark jobs per replay-watermark index operation, pinned.

Each compaction reads its index dir once and answers both watermarks
(the snapshot's ``thru`` and the new snapshot's fold) from one 1-row
probe, and counts the rows it wrote with an ``Observation`` instead of
reading the swapped dir back; a streaming micro-batch opens the index
dir once and probes it once. Reader rows are unchanged by every
compaction. The counts are for the test session (local[4], 4 shuffle
partitions); a change that adds a read or a probe shows up here."""

from __future__ import annotations

import json
import os
import time

from reddit_hn_etl_spark.operators import dedup, kmeans, similarity
from reddit_hn_etl_spark.streaming import ingest

from .conftest import _jobs

DOCS = [
    (1, "alpha bravo charlie delta echo foxtrot golf hotel"),
    (2, "alpha bravo charlie delta echo foxtrot golf india"),
    (3, "juliet kilo lima mike november oscar papa quebec"),
    (4, "juliet kilo lima mike november oscar papa romeo"),
    (5, "sierra tango uniform victor whiskey xray yankee zulu"),
    (6, "one two three four five six seven eight nine"),
]


def _rows(df) -> set:
    """Reader rows as hashable tuples (arrays become tuples)."""
    return {
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in df.collect()
    }


def _vectors(spark, lo: int, hi: int, dim: int = 8):
    return spark.createDataFrame(
        [
            (i, [float(((i * 7 + j * 3) % 11) - 5) / 5.0 for j in range(dim)])
            for i in range(lo, hi)
        ],
        "vec_id long, embedding array<double>",
    )


def _compacted(spark, name, read, compact) -> tuple:
    """``compact()``'s result and Spark jobs; ``read()``'s rows must
    be the same after it as before."""
    before = _rows(read())
    out, jobs = _jobs(spark, f"jobs_{name}", compact)
    assert _rows(read()) == before
    return out, jobs, len(before)


def test_compaction_jobs_and_reader_rows(spark, tmp_path):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    b0, b1 = docs.where("doc_id % 2 = 1"), docs.where("doc_id % 2 = 0")

    gram = str(tmp_path / "gram")
    ingest._check_gram_scheme(gram, create=True)
    for bid, b in enumerate((b0, b1)):
        ingest._append_index_rows(dedup.gram_index(b, "doc_id", "text", k=3), bid, gram)
    n, jobs, rows = _compacted(
        spark, "compact_gram",
        lambda: ingest.read_gram_index_merged(spark, gram),
        lambda: ingest.compact_gram_index(spark, gram),
    )
    assert (n, jobs) == (rows, 6)

    mh = str(tmp_path / "minhash")
    for bid, b in enumerate((b0, b1)):
        ingest._append_index_rows(
            dedup.minhash_index(b, "doc_id", "text", 16, 4, 2), bid, mh, "band"
        )
    n, jobs, rows = _compacted(
        spark, "compact_minhash",
        lambda: ingest.read_minhash_index_merged(spark, mh),
        lambda: ingest.compact_minhash_index(spark, mh),
    )
    assert (n, jobs) == (rows, 5)

    dim = 8
    centroids = kmeans.seeded_centroids(dim=dim, k=4, seed=11)
    ivf = str(tmp_path / "ivf")
    for bid, (lo, hi) in enumerate(((0, 40), (40, 64))):
        ingest._append_index_rows(
            similarity._assign_probe_cells(
                _vectors(spark, lo, hi), "vec_id", "embedding", centroids, 1,
                vec_out="embedding", norm_out="_cn",
            ),
            bid, ivf, "cell",
        )
    read_ivf = lambda: ingest.read_ivf_index_merged(spark, ivf)  # noqa: E731
    n, jobs, rows = _compacted(
        spark, "compact_ivf", read_ivf,
        lambda: ingest.compact_ivf_index(spark, ivf, centroids=centroids),
    )
    assert (n, jobs) == (rows, 17)
    assert ingest.read_ivf_drift_history(spark, ivf).count() == 1
    # Rebuilding against the quantizer the index already uses leaves
    # every row where it was.
    _, jobs, _ = _compacted(
        spark, "recenter_fixed", read_ivf,
        lambda: ingest.recenter_ivf_index(
            spark, ivf, dim=dim, n_cells=4, centroids=centroids
        ),
    )
    assert jobs == 6
    refit, n = _jobs(
        spark, "jobs_recenter",
        lambda: ingest.recenter_ivf_index(spark, ivf, dim=dim, n_cells=4, iters=2),
    )
    assert n == 11 and len(refit) == 4

    cb = similarity.pq_codebooks(dim=dim, n_sub=2, k=4, seed=101)
    pq = str(tmp_path / "pq")
    for bid, (lo, hi) in enumerate(((0, 40), (40, 64))):
        ingest._append_index_rows(
            similarity.pq_encode_corpus(_vectors(spark, lo, hi), centroids, cb)
            .select("vec_id", "cell", "codes", "recon_err"),
            bid, pq, "cell",
        )
    n, jobs, rows = _compacted(
        spark, "compact_pq",
        lambda: ingest.read_pq_index_merged(spark, pq),
        lambda: ingest.compact_pq_index(spark, pq, track_drift=True),
    )
    assert (n, jobs) == (rows, 19)


def _drain(spark, src, start, rows) -> int:
    """Add one JSON-lines file of ``rows`` to ``src``, drain the stream
    once; the jobs that run submitted (its job group is its run id)."""
    n = len(os.listdir(src))
    path = src / f"b{n}.jsonl"
    path.write_text("\n".join(json.dumps(r) for r in rows), encoding="utf-8")
    t = time.time() - 100 + n
    os.utime(path, (t, t))
    q = start()
    q.awaitTermination(180)
    assert q.exception() is None
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId)))


def test_micro_batch_jobs(spark, tmp_path):
    """Jobs of one micro-batch that screens or trims against an index
    one earlier batch built."""
    b0 = [{"doc_id": d, "text": t} for d, t in DOCS if d % 2]
    b1 = [{"doc_id": d, "text": t} for d, t in DOCS if not d % 2]
    for name, start_fn, jobs in (
        (
            "trim",
            lambda stream, d: ingest.trim_stream_against_gram_index(
                stream, str(d / "index"), str(d / "out"), str(d / "ckpt"), k=3
            ),
            25,
        ),
        (
            "screen",
            lambda stream, d: ingest.screen_stream_against_minhash_index(
                stream, str(d / "index"), str(d / "out"), str(d / "ckpt")
            ),
            12,
        ),
    ):
        d = tmp_path / name
        src = d / "src"
        src.mkdir(parents=True)

        def start(d=d, src=src, start_fn=start_fn):
            stream = spark.readStream.schema("doc_id long, text string").json(str(src))
            return start_fn(stream, d)

        _drain(spark, src, start, b0)
        assert _drain(spark, src, start, b1) == jobs, name
        assert spark.read.parquet(str(d / "out")).count() > 0
