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
    """A 10-vertex path cannot settle in one round: every fixpoint
    operator (CC, k-core peeling, Bellman-Ford relaxation) raises
    naming itself and its budget instead of returning unconverged
    state."""
    import pytest

    from reddit_hn_etl_spark.operators.graph import bellman_ford, kcore

    path = [(i, i + 1, 1) for i in range(9)]
    edges = _edges(spark, [p[:2] for p in path])
    weighted = spark.createDataFrame(path, "src long, dst long, w long")
    calls = {
        "connected_components": (
            "max_iter", lambda: connected_components(edges, max_iter=1)
        ),
        "kcore": (
            "max_rounds",
            lambda: kcore(edges, 2, src="doc_a", dst="doc_b", max_rounds=1),
        ),
        "bellman_ford": (
            "max_rounds", lambda: bellman_ford(weighted, [0], max_rounds=1)
        ),
    }
    for op, (budget, call) in calls.items():
        with pytest.raises(
            RuntimeError, match=f"^{op}: no fixpoint within {budget}=1 rounds$"
        ):
            call().collect()


def test_components_exact_on_extreme_ids(spark):
    """The convergence probe sums labels exactly: ids near 2**62 (a
    dense range high in the id space) or hash-style negative ids
    overflow a long sum, which the ANSI session turns into an error.
    Labels must still come out as the component minimum."""
    big = 2**62
    edges = _edges(spark, [(big, big + 1), (big + 2, big + 3)])
    cc = {r.vertex: r.component for r in connected_components(edges).collect()}
    assert cc == {big: big, big + 1: big, big + 2: big + 2, big + 3: big + 2}
    neg = _edges(spark, [(-big, -big - 1)])
    cc = {r.vertex: r.component for r in connected_components(neg).collect()}
    assert cc == {-big: -big - 1, -big - 1: -big - 1}


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


def test_components_merging_cliques_and_self_loop(spark):
    # chain, a triangle merged with a pendant vertex (12, 13), island
    # pair, and a vertex whose only edge is a self-loop (its own
    # component)
    edges = _edges(
        spark,
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),
         (10, 11), (11, 12), (10, 12), (12, 13),
         (20, 21), (30, 30)],
    )
    cc = {r.vertex: r.component for r in connected_components(edges).collect()}
    assert cc == {
        **{v: 1 for v in range(1, 7)},
        **{v: 10 for v in (10, 11, 12, 13)},
        20: 20, 21: 20, 30: 30,
    }


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
    """Fixpoint relaxation equals a driver-side Dijkstra on a
    deterministic integer-weighted graph, and on a fractional one
    where round 3 lowers vertex 1 from 0.4375 to 0.375 — a fall no
    rounded sum sees — and only round 4 passes it on to vertex 4."""
    import hashlib
    import heapq

    from reddit_hn_etl_spark.operators.graph import bellman_ford

    def dijkstra(edges):
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
        return dist

    edges = []
    for i in range(200):
        h = int(hashlib.md5(f"w{i}".encode()).hexdigest()[:8], 16)
        a, b, w = h % 30, (h // 30) % 30, h % 7 + 1
        if a != b:
            edges.append((a, b, w))
            edges.append((b, a, w))
    fractional = [
        (0, 1, 0.4375), (0, 2, 0.125), (2, 3, 0.125), (3, 1, 0.125),
        (1, 4, 0.125),
    ]
    for rows, schema in (
        (edges, "src long, dst long, w long"),
        (fractional, "src long, dst long, w double"),
    ):
        df = spark.createDataFrame(rows, schema)
        got = {r["vertex"]: r["dist"] for r in bellman_ford(df, sources=[0]).collect()}
        assert got == dijkstra(rows)


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


def test_graph_construction_jobs(spark):
    """Spark jobs each graph operator runs while it builds its plan
    (eager edge checkpoints, one probe job per fixpoint round — the
    round's lazy checkpoint is computed by its probe) and when its
    result is collected, on a fixed small graph. Bellman-Ford's probe
    is one (count, Σdist) aggregate per round — no per-round join
    against the previous distances."""
    import hashlib

    from reddit_hn_etl_spark.operators import graph

    from .conftest import _jobs

    rows = []
    for i in range(60):
        h = int(hashlib.md5(f"g{i}".encode()).hexdigest()[:8], 16)
        a, b = h % 24, (h // 24) % 24
        if a != b:
            rows.append((a, b, h % 5 + 1))
    edges = spark.createDataFrame(rows, "src long, dst long, w long").cache()
    edges.count()
    seeds = spark.createDataFrame([(0,)], "v long")
    calls = {
        "connected_components": lambda: graph.connected_components(edges, "src", "dst"),
        "kcore": lambda: graph.kcore(edges, 3),
        "label_propagation": lambda: graph.label_propagation(edges),
        "bfs_distances": lambda: graph.bfs_distances(edges, seeds),
        "pagerank": lambda: graph.pagerank(edges),
        "bellman_ford": lambda: graph.bellman_ford(edges, sources=[0]),
    }
    got = {}
    try:
        for name, fn in calls.items():
            out, build = _jobs(spark, f"graph_build_{name}", fn)
            _, run = _jobs(spark, f"graph_exec_{name}", out.collect)
            got[name] = (build, run)
    finally:
        edges.unpersist()
    # CC's count is not exact: a probe round runs 7 or 8 jobs
    # depending on adaptive-execution stage timing (31-33 measured
    # over repeated identical calls), so it is pinned to its range.
    cc_build, cc_exec = got.pop("connected_components")
    assert 30 <= cc_build <= 34 and cc_exec == 1, got
    assert got == {
        "kcore": (19, 2),
        "label_propagation": (10, 1),
        "bfs_distances": (16, 1),
        "pagerank": (10, 10),
        "bellman_ford": (26, 1),
    }
