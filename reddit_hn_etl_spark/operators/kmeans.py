"""Distributed k-means over embedding columns (Lloyd's algorithm).

The curation literature's embedding-space operators — SemDeDup
(Abbas et al. 2023), cluster-balanced data selection, prototype
extraction — are all built on k-means cells over document
embeddings. `similarity.semantic_dedup` uses sign-LSH cells as the
cheap stand-in; this module provides the real thing as a first-class
distributed operator. (The reference repo has no clustering surface;
this extends the LLM-data-pipeline family the engine adds on top —
see SURVEY.md §2.12.)

Scale shape (the part that must survive 100 TB):

* **Assignment is shuffle-free.** Centroids are a k×dim constant —
  kilobytes — inlined as a literal array column, so every executor
  evaluates the argmin over squared-L2 distances JVM-side with
  higher-order array functions (`transform` + `aggregate`) on its
  own partitions. No Python in the row path, no join, no exchange.
* **The update step ships k×dim rows per task, not N×dim.**
  `posexplode` fans each vector into (cluster, pos, value) rows, but
  the `groupBy(cluster, pos)` mean does map-side partial aggregation
  *before* the one shuffle, so a task contributes at most k·dim
  partial rows regardless of how many vectors it scanned. The driver
  only ever holds the k×dim centroid matrix between rounds.
* **Iteration count is the dial.** Each Lloyd round is one scan +
  one k·dim-wide shuffle; at corpus scale the standard play is a few
  rounds over a uniform sample to position centroids, then one final
  full-corpus assignment pass — exactly the `assign()` entry point.

Determinism (differential-testing discipline):

* Distances fold `(xᵢ−cᵢ)²` in array order from a 0.0 init — the
  same IEEE double sequence DuckDB's `list_reduce` over an ordered
  `list_transform` produces, so assignment is engine-exact.
* Argmin tie-break is the lowest centroid index (`array_position`
  returns the FIRST occurrence of the minimum).
* The oracle-checked update uses `cluster_means_quantized`: values
  are floored onto a 1e-6 integer grid first, so the per-cluster
  sums are exact int64 arithmetic — order-free on any engine and any
  partitioning. The in-loop `update_centroids` keeps plain double
  means (quantization is pointless noise there; the loop is verified
  by invariant tests instead — see tests/test_kmeans.py).
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

Centroids = list[list[float]]


def seeded_centroids(
    dim: int, k: int, seed: int = 11, scale: float = 0.15
) -> Centroids:
    """Deterministic pseudo-random centroid seeds (driver-side, tiny).
    `scale` matches the synthetic embeddings' coordinate spread so the
    seed Voronoi cells land inside the data cloud."""
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, scale) for _ in range(dim)] for _ in range(k)
    ]


def _centroid_literal(centroids: Centroids) -> Column:
    # ONE py4j call producing one Literal node (r12): the per-element
    # F.array(*[F.lit(x) ...]) construction cost k·dim driver round
    # trips to BUILD and gave the analyzer a CreateArray tree with
    # k·dim children to walk on every rule pass; the values (and the
    # constant-folded result) are identical.
    return F.lit([[float(x) for x in c] for c in centroids])


def squared_distances(vec: Column, centroids: Centroids) -> Column:
    """array<double> of ‖vec − cⱼ‖² for every centroid: ONE transform
    over the constant centroid matrix (expression size stays constant
    in k), each distance folded in array order from 0.0 — the
    engine-portable double sequence."""
    return F.transform(
        _centroid_literal(centroids),
        lambda c: F.aggregate(
            F.zip_with(
                vec,
                c,
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )


def assign(
    df: DataFrame,
    centroids: Centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment: (id, cluster_id, dist_sq).

    Shuffle-free: centroids ride along as a literal, the argmin is
    `array_position(dists, array_min(dists))` (first occurrence ⇒
    lowest-index tie-break), and the output partitioning is the
    input's.
    """
    d = squared_distances(F.col(vec_col), centroids)
    return df.select(
        F.col(id_col),
        F.col(vec_col),
        d.alias("_dists"),
    ).select(
        id_col,
        vec_col,
        (F.array_position(F.col("_dists"), F.array_min(F.col("_dists")))
         .cast("int") - F.lit(1)).alias("cluster_id"),
        F.array_min(F.col("_dists")).alias("dist_sq"),
    )


def cluster_means_quantized(
    assigned: DataFrame,
    vec_col: str = "embedding",
    cluster_col: str = "cluster_id",
    scale: int = 1_000_000,
) -> DataFrame:
    """One Lloyd update in exact integer arithmetic: coordinates are
    floored onto a 1/scale grid, summed as int64 (order-free), and
    the mean re-derived by one fixed double expression. Output:
    (cluster_id, pos, n_members, mean_q) with pos 0-based.

    This is the oracle-checked face of the update step: the partial
    (map-side) aggregation under `groupBy(cluster, pos)` makes the
    shuffle k·dim-per-task regardless of N."""
    q = F.floor(F.col("v").cast("double") * F.lit(float(scale))).cast("long")
    return (
        assigned.select(
            F.col(cluster_col),
            F.posexplode(F.col(vec_col)).alias("pos", "v"),
        )
        .select(F.col(cluster_col), "pos", q.alias("q"))
        .groupBy(cluster_col, "pos")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.sum("q").alias("sum_q"),
        )
        .select(
            cluster_col,
            "pos",
            "n_members",
            (
                F.col("sum_q").cast("double")
                / F.lit(float(scale))
                / F.col("n_members")
            ).alias("mean_q"),
        )
    )


def update_centroids(
    assigned: DataFrame,
    previous: Centroids,
    vec_col: str = "embedding",
    cluster_col: str = "cluster_id",
) -> Centroids:
    """Collect the per-cluster coordinate means (k×dim doubles — the
    only thing the driver ever holds). Clusters that lost every
    member keep their previous centroid (the standard empty-cluster
    rule; deterministic)."""
    rows = (
        assigned.select(
            F.col(cluster_col),
            F.posexplode(F.col(vec_col)).alias("pos", "v"),
        )
        .groupBy(cluster_col, "pos")
        .agg(F.avg(F.col("v").cast("double")).alias("m"))
        .collect()
    )
    out = [list(c) for c in previous]
    for r in rows:
        out[r[cluster_col]][r["pos"]] = r["m"]
    return out


def update_centroids_minibatch(
    new_vectors: DataFrame,
    centroids: Centroids,
    counts: list[int],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[Centroids, list[int]]:
    """Count-weighted incremental centroid update from ONLY a batch
    of new vectors — mini-batch k-means (Sculley, WWW 2010) in its
    batch-aggregated form: assign the batch against the current
    centroids (the same shuffle-free literal argmin as `assign`),
    aggregate per-cell coordinate sums + member counts (ONE k·dim-
    wide shuffle with map-side partials, never N·dim), then

        c' = (n_old·c + Σ new members) / (n_old + n_new)

    per cell; cells with no new members are untouched. Sculley's
    per-sample learning rate 1/n_c is exactly this formula folded
    over a batch whose assignments are all taken against the SAME
    centroids (coarser than per-sample sequential updates — which
    cannot distribute — and the standard distributed variant).

    With ``counts`` all zero and the full corpus as the batch this
    IS one Lloyd update step (pinned vs `update_centroids`). The
    intended use is the cheap half of the drift loop (SCALING.md
    §Similarity): track a candidate quantizer from each compaction's
    newly-indexed rows at O(batch) cost, and when the drift report
    triggers, pass the tracked centroids to
    `recenter_ivf_index(..., centroids=)` — paying one O(corpus)
    reassign+rewrite but SKIPPING the O(corpus × iters) refit.

    Returns (updated centroids, updated per-cell counts); the driver
    holds only k×dim doubles + k longs."""
    if len(counts) != len(centroids):
        raise ValueError(
            f"counts has {len(counts)} cells, centroids {len(centroids)}"
        )
    assigned = assign(new_vectors, centroids, id_col=id_col, vec_col=vec_col)
    rows = (
        assigned.select(
            F.col("cluster_id"),
            F.posexplode(F.col(vec_col)).alias("pos", "v"),
        )
        .groupBy("cluster_id", "pos")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("v").cast("double")).alias("s"),
        )
        .collect()
    )
    out = [list(c) for c in centroids]
    new_counts = list(counts)
    n_new: dict[int, int] = {}
    for r in rows:
        n_new[r["cluster_id"]] = int(r["n"])
    for r in rows:
        c, p = r["cluster_id"], r["pos"]
        denom = counts[c] + n_new[c]
        out[c][p] = (counts[c] * centroids[c][p] + float(r["s"])) / denom
    for c, n in n_new.items():
        new_counts[c] = counts[c] + n
    return out, new_counts


def lloyd(
    df: DataFrame,
    k: int,
    n_iter: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 11,
    init: Centroids | None = None,
) -> tuple[DataFrame, Centroids, float]:
    """Full Lloyd loop: `n_iter` rounds of assign → mean-update, then
    a final assignment pass. Returns (assignments, centroids,
    inertia). Each round is one scan + one k·dim shuffle; the input
    is narrow (id + vector), so cache it upstream if it is the tail
    of an expensive pipeline.

    Inertia (Σ dist_sq under the returned centroids) is the
    convergence certificate: Lloyd guarantees it is non-increasing
    round over round, which the property tests assert.
    """
    dim = len(df.select(vec_col).first()[0])
    cents = init if init is not None else seeded_centroids(dim, k, seed=seed)
    assert len(cents) == k and all(len(c) == dim for c in cents)
    for _ in range(n_iter):
        assigned = assign(df, cents, id_col=id_col, vec_col=vec_col)
        cents = update_centroids(assigned, cents, vec_col=vec_col)
    final = assign(df, cents, id_col=id_col, vec_col=vec_col)
    inertia = final.agg(F.sum("dist_sq")).first()[0] or 0.0
    return final.select(id_col, "cluster_id", "dist_sq"), cents, inertia


def prototypes(
    assigned: DataFrame,
    id_col: str = "vec_id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """The member nearest its centroid, per cluster — SemDeDup's
    "keep the prototype" rule. One window over the (tiny) per-cluster
    candidate sets; tie-break on id for determinism."""
    w = Window.partitionBy(cluster_col).orderBy(
        F.asc("dist_sq"), F.asc(id_col)
    )
    return (
        assigned.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(cluster_col, id_col, "dist_sq")
    )


def semantic_dedup_kmeans(
    corpus: DataFrame,
    centroids: Centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.25,
) -> DataFrame:
    """SemDeDup with TRUE k-means cells — the paper's actual
    construction (Abbas et al. 2023 cluster with k-means; the
    sign-LSH sibling `similarity.semantic_dedup` is the hash-cell
    stand-in): assign every vector to its nearest centroid, emit
    exact cosine pairs ONLY within a cell, cluster transitively, keep
    the min-id representative; singletons are their own reps.

    Output contract and scale shape are identical to the sibling:
    (id, component, is_rep); one projection computes norms + cell
    ids (shuffle-free literal-centroid argmin), the pair join
    shuffles on the CELL key — never all-pairs — connected components
    moves only id pairs, and the final left join restores singletons
    without rescanning vectors. The cell count k is the cost/recall
    dial; cross-cell near-dups are the documented recall trade.
    """
    from .dedup import fan_out_narrow_input
    from .similarity import _cell_dedup

    cells = assign(
        fan_out_narrow_input(corpus), centroids, id_col=id_col, vec_col=vec_col
    ).select(F.col(id_col), F.col(vec_col), F.col("cluster_id").alias("_cell"))
    return _cell_dedup(corpus, cells, id_col, vec_col, threshold)
