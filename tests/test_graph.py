"""Connected components + transitive dedup clusters."""

from __future__ import annotations

from reddit_hn_etl_spark.operators.graph import (
    connected_components,
    dedup_clusters,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "doc_a long, doc_b long")


def test_components_chains_and_islands(spark):
    # chain 1-2-3-4, triangle 10-11-12, island pair 20-21
    edges = _edges(spark, [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)])
    cc = {r.vertex: r.component for r in connected_components(edges).collect()}
    assert {cc[1], cc[2], cc[3], cc[4]} == {1}
    assert {cc[10], cc[11], cc[12]} == {10}
    assert {cc[20], cc[21]} == {20}


def test_dedup_clusters_transitive(spark):
    # (1,3),(2,3): 2 is a dup of 1 only transitively via 3 — the case
    # a greedy drop-doc_b pass gets wrong (it would keep 2).
    drops = {r.drop_id for r in dedup_clusters(_edges(spark, [(1, 3), (2, 3)])).collect()}
    assert drops == {2, 3}


def test_long_chain_converges(spark):
    n = 12
    edges = _edges(spark, [(i, i + 1) for i in range(n)])
    cc = {r.vertex: r.component for r in connected_components(edges).collect()}
    assert set(cc.values()) == {0} and len(cc) == n + 1


def test_very_long_chain_converges_within_default_iters(spark):
    """r13 pointer-jumping pin: a 200-vertex path has diameter 200 —
    plain neighbor-min needs ~200 rounds and would exhaust the
    default max_iter=20 SILENTLY (wrong labels, no error); with the
    label-compression pass rounds are O(log diameter), so the default
    budget converges to the true min label. Guards against losing
    the jump pass in a refactor."""
    n = 200
    edges = _edges(spark, [(i, i + 1) for i in range(n)])
    cc = {r.vertex: r.component for r in connected_components(edges).collect()}
    assert set(cc.values()) == {0} and len(cc) == n + 1


def test_components_raise_when_max_iter_runs_out(spark):
    """A 10-vertex path cannot settle in one round: both CC operators
    raise naming themselves and the budget instead of returning
    unconverged labels (the kcore / bellman_ford policy)."""
    import pytest

    from reddit_hn_etl_spark.operators.graph import connected_components_star

    edges = _edges(spark, [(i, i + 1) for i in range(9)])
    for fn in (connected_components, connected_components_star):
        with pytest.raises(RuntimeError, match=f"{fn.__name__}: .*max_iter=1 "):
            fn(edges, max_iter=1).collect()


def test_empty_edges(spark):
    # A corpus with zero near-dup pairs must flow through cleanly:
    # no vertices, no clusters, no drops — not an error.
    empty = _edges(spark, [])
    assert connected_components(empty).count() == 0
    assert dedup_clusters(empty).count() == 0


def test_keep_best_empty_cluster_set(spark):
    from reddit_hn_etl_spark.operators.graph import keep_best_per_cluster

    cc = connected_components(_edges(spark, []))
    scores = spark.createDataFrame(
        [(1, 0.5)], "doc_id long, quality_score double"
    )
    assert keep_best_per_cluster(cc, scores).count() == 0


def test_star_components_match_minlabel(spark):
    from reddit_hn_etl_spark.operators.graph import connected_components_star

    # chain (worst case for min-label), merging cliques, island,
    # self-loop-only vertex
    edges = _edges(
        spark,
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),
         (10, 11), (11, 12), (10, 12), (12, 13),
         (20, 21), (30, 30)],
    )
    a = {r.vertex: r.component for r in connected_components(edges).collect()}
    b = {r.vertex: r.component
         for r in connected_components_star(edges).collect()}
    assert a == b
    assert b[6] == 1 and b[13] == 10 and b[30] == 30


def test_star_components_empty(spark):
    from reddit_hn_etl_spark.operators.graph import connected_components_star

    assert connected_components_star(_edges(spark, [])).count() == 0


def test_triangle_stats_clique_pendant_star(spark):
    from reddit_hn_etl_spark.operators.graph import triangle_stats

    # K4 on 1-4 (every vertex: degree 3, 3 triangles, clustering 1.0),
    # pendant 5 off vertex 4, and a triangle-free star 10-(11,12,13)
    # (the skew case the degree orientation must not blow up on).
    # Edges arrive unordered/duplicated/reversed to exercise
    # canonicalization.
    edges = _edges(
        spark,
        [(1, 2), (2, 1), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
         (4, 5),
         (10, 11), (10, 12), (13, 10)],
    )
    out = {r.vertex: (r.degree, r.triangles, r.clustering)
           for r in triangle_stats(edges).collect()}
    for v in (1, 2, 3):
        assert out[v] == (3, 3, 1.0)
    assert out[4] == (4, 3, 0.5)
    assert out[5] == (1, 0, 0.0)
    assert out[10] == (3, 0, 0.0)
    assert out[11] == (1, 0, 0.0)


def test_pagerank_mass_hub_and_numpy_reference(spark):
    """Undirected path-plus-hub graph: rank mass sums to exactly 1,
    the hub outranks everyone, and three unrolled rounds match an
    independent numpy power iteration to float tolerance."""
    import numpy as np

    from reddit_hn_etl_spark.operators.graph import pagerank

    # star 0-{1,2,3,4} plus tail 4-5-6
    pairs = [(0, 1), (0, 2), (0, 3), (0, 4), (4, 5), (5, 6)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    got = {
        r["vertex"]: r["pagerank"]
        for r in pagerank(edges, n_iter=3, damping=0.875).collect()
    }
    assert abs(sum(got.values()) - 1.0) < 1e-12
    assert max(got, key=got.get) == 0

    sym = pairs + [(b, a) for a, b in pairs]
    n = 7
    deg = np.zeros(n)
    for a, _ in sym:
        deg[a] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(3):
        s = np.zeros(n)
        for a, b in sym:
            s[b] += r[a] / deg[a]
        r = 0.125 / n + 0.875 * s
    for v in range(n):
        assert abs(got[v] - r[v]) <= 1e-12 * abs(r[v])


def test_pagerank_directed_mass_leaks_to_sinks(spark):
    """Directed mode keeps the raw semantics: a sink keeps absorbing
    mass (no dangling redistribution), so total mass < 1 — documented
    behavior callers opt into with undirected=False."""
    from reddit_hn_etl_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (3, 2)], "src long, dst long"
    )
    got = {
        r["vertex"]: r["pagerank"]
        for r in pagerank(edges, n_iter=2, damping=0.875, undirected=False).collect()
    }
    # vertices = those with out-edges only (1, 3); sink 2 absorbs
    assert set(got) == {1, 3}
    assert sum(got.values()) < 1.0


def test_personalized_pagerank_concentrates_on_seed_side(spark):
    """Barbell graph 0-1-2 — 3 — 4-5-6 with seeds {0}: mass
    concentrates on the seed side, matches a numpy reference with
    the identical update, and total mass stays exactly 1 (undirected
    ⇒ no leak)."""
    import numpy as np

    from reddit_hn_etl_spark.operators.graph import pagerank

    pairs = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 6)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    got = {
        r["vertex"]: r["pagerank"]
        for r in pagerank(
            edges, n_iter=4, damping=0.875, personalization=[0]
        ).collect()
    }
    assert abs(sum(got.values()) - 1.0) < 1e-12
    assert got[0] > got[6]          # seed side dominates
    assert got[1] > got[5]

    sym = pairs + [(b, a) for a, b in pairs]
    n = 7
    deg = np.zeros(n)
    for a, _ in sym:
        deg[a] += 1
    p = np.zeros(n)
    p[0] = 1.0
    r = p.copy()
    for _ in range(4):
        s = np.zeros(n)
        for a, b in sym:
            s[b] += r[a] / deg[a]
        r = 0.125 * p + 0.875 * s
    for v in range(n):
        assert abs(got[v] - r[v]) < 1e-12


def test_weighted_pagerank_reduces_to_unweighted_on_unit_weights(spark):
    from pyspark.sql import functions as F

    from reddit_hn_etl_spark.operators import graph

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)], "src long, dst long"
    )
    base = {
        r["vertex"]: r["pagerank"]
        for r in graph.pagerank(edges, n_iter=3).collect()
    }
    weighted = {
        r["vertex"]: r["pagerank"]
        for r in graph.pagerank(
            edges.withColumn("w", F.lit(1)), weight_col="w", n_iter=3
        ).collect()
    }
    assert base == weighted  # x·1/deg ≡ x/deg bit-for-bit


def test_weighted_pagerank_mass_conserved_and_weight_sensitive(spark):
    from reddit_hn_etl_spark.operators import graph

    edges = spark.createDataFrame(
        [(1, 2, 10), (2, 3, 1), (3, 1, 1)], "src long, dst long, w long"
    )
    pr = {
        r["vertex"]: r["pagerank"]
        for r in graph.pagerank(edges, weight_col="w", n_iter=5).collect()
    }
    assert abs(sum(pr.values()) - 1.0) < 1e-9  # undirected: mass conserved
    # vertex 3 hangs off the heavy 1-2 edge only weakly; the heavy
    # pair should outrank it
    assert pr[1] > pr[3] and pr[2] > pr[3]


def test_kcore_clique_plus_chain(spark):
    """3-core of (K5 clique + pendant chain) keeps exactly the clique
    with degree 4 each; a tree has an empty 2-core."""
    from pyspark.sql import functions as F  # noqa: F401

    from reddit_hn_etl_spark.operators.graph import kcore

    clique = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    chain = [(4, 10), (10, 11), (11, 12)]
    edges = spark.createDataFrame(clique + chain, "src long, dst long")
    got = {r["vertex"]: r["core_degree"] for r in kcore(edges, k=3).collect()}
    assert got == {0: 4, 1: 4, 2: 4, 3: 4, 4: 4}
    tree = spark.createDataFrame(
        [(i, i // 2) for i in range(1, 16)], "src long, dst long"
    )
    assert kcore(tree, k=2).count() == 0


def test_kcore_matches_brute_force(spark):
    """Fixpoint peel on a deterministic pseudo-random graph equals a
    driver-side networkx-free brute-force k-core."""
    import hashlib

    from reddit_hn_etl_spark.operators.graph import kcore

    edges = []
    for i in range(300):
        h = int(hashlib.md5(f"e{i}".encode()).hexdigest()[:8], 16)
        a, b = h % 40, (h // 40) % 40
        if a != b:
            edges.append((a, b))
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["vertex"]: r["core_degree"] for r in kcore(df, k=5).collect()}
    adj: dict[int, set] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    alive = set(adj)
    while True:
        drop = {v for v in alive if len(adj[v] & alive) < 5}
        if not drop:
            break
        alive -= drop
    want = {v: len(adj[v] & alive) for v in alive}
    assert got == want


def test_kcore_canonical_fast_path_equals_default(spark):
    """`canonical=True` (r6: skips the symmetrized-set re-dedup when
    the caller guarantees distinct src<dst edges) is result-identical
    to the default path on canonical input — the fast path changes
    the PLAN (one fewer full-edge shuffle), never the core."""
    import hashlib

    from pyspark.sql import functions as F

    from reddit_hn_etl_spark.operators.graph import kcore

    edges = set()
    for i in range(400):
        h = int(hashlib.md5(f"c{i}".encode()).hexdigest()[:8], 16)
        a, b = h % 50, (h // 50) % 50
        if a != b:
            edges.add((min(a, b), max(a, b)))
    df = spark.createDataFrame(sorted(edges), "src long, dst long")
    default = {
        r["vertex"]: r["core_degree"] for r in kcore(df, k=4).collect()
    }
    fast = {
        r["vertex"]: r["core_degree"]
        for r in kcore(df, k=4, canonical=True).collect()
    }
    assert fast == default and len(fast) > 0
    # and the fast path really skips the dedup: feeding it NON-unique
    # edges (a violated contract) must change the degrees, proving
    # the distinct() is gone rather than silently still applied
    dup = df.unionByName(df)
    violated = {
        r["vertex"]: r["core_degree"]
        for r in kcore(dup, k=4, canonical=True).collect()
    }
    assert violated != default


def test_bellman_ford_matches_dijkstra(spark):
    """Fixpoint relaxation on a deterministic weighted graph equals a
    driver-side Dijkstra."""
    import hashlib
    import heapq

    from reddit_hn_etl_spark.operators.graph import bellman_ford

    edges = []
    for i in range(200):
        h = int(hashlib.md5(f"w{i}".encode()).hexdigest()[:8], 16)
        a, b, w = h % 30, (h // 30) % 30, h % 7 + 1
        if a != b:
            edges.append((a, b, w))
            edges.append((b, a, w))
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    got = {r["vertex"]: r["dist"] for r in bellman_ford(df, sources=[0]).collect()}
    adj: dict[int, list] = {}
    for a, b, w in edges:
        adj.setdefault(a, []).append((b, w))
    dist = {0: 0}
    pq = [(0, 0)]
    while pq:
        d, u = heapq.heappop(pq)
        if d > dist.get(u, float("inf")):
            continue
        for v, w in adj.get(u, []):
            nd = d + w
            if nd < dist.get(v, float("inf")):
                dist[v] = nd
                heapq.heappush(pq, (nd, v))
    assert got == dist


def test_kcore_self_loop_both_directions_dropped(spark):
    """ADVICE r6: a self-loop (x,x) must not survive via the reversed
    direction and inflate x's degree. Triangle {1,2,3} plus a (1,1)
    self-loop: with k=2 the core is exactly the triangle with degree
    2 each — a leaked self-loop would give vertex 1 degree 3."""
    from reddit_hn_etl_spark.operators.graph import kcore

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (1, 1)], "src int, dst int"
    )
    got = {r["vertex"]: r["core_degree"] for r in kcore(edges, k=2).collect()}
    assert got == {1: 2, 2: 2, 3: 2}
    # k=3: the self-loop must not keep vertex 1 above the threshold
    assert kcore(edges, k=3).count() == 0
