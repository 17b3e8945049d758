"""Focused pins for the r12 Arrow scoring kernels
(`similarity._ordered_fold_dots` / `_topk_ties_mask` /
`_score_cells_cogroup` / the kernelized `knn_cosine_bruteforce`).

The optimization contract is BIT-IDENTITY with the zip_with/aggregate
fold the kernels replaced: numpy vectorizes ACROSS pairs but each
pair's accumulation stays in array order. These tests pin that
equality against the live Spark HOF expression (not a reimplementation)
and the ties-kept superset property of the per-batch top-k mask.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from reddit_hn_etl_spark.operators import similarity


def _hof_dot_and_norms(spark, pairs):
    """Evaluate the ORIGINAL interpreted fold expressions in Spark for
    (a, b) vector pairs; returns (dot, norm_a) doubles."""
    df = spark.createDataFrame(
        [(list(map(float, a)), list(map(float, b))) for a, b in pairs],
        "a array<double>, b array<double>",
    )
    rows = df.select(
        similarity.dot(F.col("a"), F.col("b")).alias("d"),
        similarity.l2_norm(F.col("a")).alias("na"),
    ).collect()
    return [(r.d, r.na) for r in rows]


def test_ordered_fold_matches_spark_hof_bitwise(spark):
    rng = np.random.default_rng(7)
    m = rng.normal(size=(23, 17)) * 10
    q = rng.normal(size=(5, 17))
    # include adversarial magnitudes where accumulation order matters
    m[0, :] = np.linspace(1e-12, 1e12, 17)
    q[0, :] = np.linspace(1e12, 1e-12, 17)
    dots = similarity._ordered_fold_dots(m, q)
    norms = np.sqrt(similarity._ordered_fold_sq_norms(m))
    pairs = [(m[i], q[j]) for i in range(m.shape[0]) for j in range(q.shape[0])]
    hof = _hof_dot_and_norms(spark, pairs)
    k = 0
    for i in range(m.shape[0]):
        for j in range(q.shape[0]):
            d_hof, na_hof = hof[k]
            # bitwise equality, not approx: the kernels' whole
            # correctness argument is same-sequence IEEE ops
            assert dots[i, j] == d_hof, (i, j, dots[i, j], d_hof)
            assert norms[i] == na_hof
            k += 1


def test_topk_ties_mask_keeps_all_boundary_ties():
    cos = np.array(
        [[0.9, 0.1], [0.5, 0.5], [0.5, 0.5], [0.5, 0.9], [0.1, 0.5]]
    )
    keep = similarity._topk_ties_mask(cos, 2, np)
    # column 0: top-2 value boundary is 0.5, held by rows 1,2,3 — ALL
    # ties must survive so the global window can tie-break by id
    assert keep[:, 0].tolist() == [True, True, True, True, False]
    assert keep[:, 1].tolist() == [False, True, True, True, True]
    # k >= rows keeps everything
    assert similarity._topk_ties_mask(cos, 9, np).all()
    # NaN maps to +inf (Spark sorts NaN as the LARGEST desc value)
    cos2 = np.array([[np.nan], [0.9], [0.8], [0.7]])
    keep2 = similarity._topk_ties_mask(cos2, 2, np)
    assert keep2[:, 0].tolist() == [True, True, False, False]


def test_bruteforce_kernel_equals_pair_expression_path(spark, sf_dir):
    """End-to-end: the kernelized knn_cosine_bruteforce returns
    exactly the rows of an in-test reconstruction of the OLD
    crossJoin + zip_with/aggregate plan (values compared exactly,
    including cosine_sim after ROUND(4))."""
    from pyspark.sql import Window

    from reddit_hn_etl_spark.sources.tables import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 7).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    new = similarity.knn_cosine_bruteforce(emb, queries, k=5)

    q = queries.select(
        F.col("query_id"),
        F.col("embedding").alias("_qvec"),
        similarity.l2_norm(F.col("embedding")).alias("_qn"),
    )
    c = emb.select(
        "vec_id", "embedding",
        similarity.l2_norm(F.col("embedding")).alias("_cn"),
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "vec_id",
        (
            similarity.dot(F.col("_qvec"), F.col("embedding"))
            / (F.col("_qn") * F.col("_cn"))
        ).alias("_cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_cos"), F.asc("vec_id"))
    old = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select(
            "query_id", "vec_id",
            F.round("_cos", 4).alias("cosine_sim"), "rank",
        )
    )
    a = {tuple(r) for r in new.collect()}
    b = {tuple(r) for r in old.collect()}
    assert a == b and len(a) == 35


def test_cell_cogroup_scoring_equals_join_expression_path(spark, sf_dir):
    """_score_cells_cogroup emits a ties-kept SUPERSET whose
    window-ranked top-k equals the old join + fold expression path,
    value for value."""
    from pyspark.sql import Window

    from reddit_hn_etl_spark.sources.tables import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    centroids = similarity.kmeans_centroids(emb, dim=64, n_cells=4, iters=1)
    corpus_cells = similarity._assign_probe_cells(
        emb, "vec_id", "embedding", centroids, 1,
        vec_out="embedding", norm_out="_cn",
    )
    probe = similarity._assign_probe_cells(
        queries, "query_id", "embedding", centroids, 2
    )
    k = 4
    new_scored = similarity._score_cells_cogroup(
        corpus_cells, probe, "vec_id", "embedding", "query_id", k
    )
    old_scored = corpus_cells.join(probe, "cell").select(
        "query_id",
        "vec_id",
        (
            similarity.dot(F.col("_qvec"), F.col("embedding"))
            / (F.col("_qn") * F.col("_cn"))
        ).alias("_cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_cos"), F.asc("vec_id"))

    def topk(scored):
        return {
            tuple(r)
            for r in scored.withColumn("r", F.row_number().over(w))
            .where(F.col("r") <= k)
            .select("query_id", "vec_id", F.round("_cos", 4), "r")
            .collect()
        }

    a, b = topk(new_scored), topk(old_scored)
    assert a == b and len(a) == 6 * k
    # superset property: every kernel row's (query, id) pair exists in
    # the unfiltered join, with the bit-identical score
    full = {
        (r.query_id, r.vec_id): r._cos for r in old_scored.collect()
    }
    for r in new_scored.collect():
        assert full[(r.query_id, r.vec_id)] == r._cos


@pytest.mark.parametrize("bad_rows", [3])
def test_bruteforce_query_guard(spark, sf_dir, bad_rows):
    from reddit_hn_etl_spark.sources.tables import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    with pytest.raises(ValueError, match="max_query_rows"):
        similarity.knn_cosine_bruteforce(
            emb, queries, k=3, max_query_rows=bad_rows
        )


def test_kernel_id_dtype_validation(spark, sf_dir):
    """ADVICE r12: the Arrow kernels hold ids as int64 — a string id
    must fail up front with an error naming the restriction, not die
    inside the kernel with an opaque cast error."""
    from reddit_hn_etl_spark.sources.tables import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    bad = emb.select(
        F.col("vec_id").cast("string").alias("vec_id"), "embedding"
    )
    queries = emb.limit(3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    with pytest.raises(TypeError, match="integral ids"):
        similarity.knn_cosine_bruteforce(bad, queries, k=3)
    with pytest.raises(TypeError, match="integral ids"):
        similarity.knn_cosine_bruteforce(
            emb, queries.withColumn("query_id", F.col("query_id").cast("string")), k=3
        )


def test_bruteforce_budget_is_rows_times_dim(spark):
    """ADVICE r12: the guard budgets rows×dim cells (driver collect
    and broadcast scale with both), checked BEFORE the collect. 3 rows
    at 128 dims busts a 2-row budget (2×64 cells) even though a
    row-only guard at 3 rows > 2 would too — so also pin the converse:
    1 wide row (128 dims > 64) within a 2-row budget passes. The row
    ceiling (8 × max_query_rows) holds whatever the dim: 17 one-dim
    rows fit the 128-cell budget but not the 16-row ceiling."""
    wide = spark.createDataFrame(
        [(i, [float(i)] * 128) for i in range(3)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="cell"):
        similarity.knn_cosine_bruteforce(
            wide, wide.selectExpr("vec_id as query_id", "embedding"),
            k=1, max_query_rows=2,
        )
    out = similarity.knn_cosine_bruteforce(
        wide, wide.limit(1).selectExpr("vec_id as query_id", "embedding"),
        k=1, max_query_rows=2,
    )
    assert out.count() == 1
    narrow = spark.createDataFrame(
        [(i, [float(i)]) for i in range(17)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="max_query_rows"):
        similarity.knn_cosine_bruteforce(
            narrow, narrow.selectExpr("vec_id as query_id", "embedding"),
            k=1, max_query_rows=2,
        )


def test_kmeans_centroids_match_numpy_spherical_lloyd(spark, sf_dir):
    """The IVF quantizer fit computes spherical Lloyd exactly: a numpy
    reference with the same smallest-id init, the same 1e-12-quantized
    (-sim, index) assignment and plain per-cell means (an empty cell
    keeps its centroid) gives the same cell for every vector at every
    iteration and the same centroids to 1e-12."""
    from reddit_hn_etl_spark.sources.tables import read_table

    n_cells, iters = 8, 3
    emb = read_table(spark, sf_dir, "embeddings")
    rows = sorted((r.vec_id, list(r.embedding)) for r in emb.collect())
    ids = np.array([i for i, _ in rows])
    x = np.array([v for _, v in rows], dtype=np.float64)

    def unit(m):
        return m / np.maximum(np.linalg.norm(m, axis=1), 1e-12)[:, None]

    def spark_cells(cents):
        got = {
            r.vec_id: r.cell
            for r in similarity._ivf_index_rows(
                emb, "vec_id", "embedding", cents.tolist()
            ).collect()
        }
        return np.array([got[i] for i in ids])

    cents = x[:n_cells].copy()
    for it in range(iters + 1):
        sims = np.round(unit(x) @ unit(cents).T, 12)
        cells = np.argsort(-sims, axis=1, kind="stable")[:, 0]
        assert (spark_cells(cents) == cells).all(), f"iteration {it}"
        if it == iters:
            break
        for c in np.unique(cells):
            cents[c] = x[cells == c].mean(axis=0)
    got = np.array(
        similarity.kmeans_centroids(emb, dim=64, n_cells=n_cells, iters=iters)
    )
    assert got.shape == cents.shape
    assert np.abs(got - cents).max() <= 1e-12
