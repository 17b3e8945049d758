"""Graph operators: connected components + transitive dedup clusters,
triangles, PageRank, k-core, label propagation, BFS, Bellman-Ford.

Tests taking ``graph_paths`` run on both paths of the four operators
with an in-memory finish (the size rule, where these small graphs
finish in memory, then the distributed loops)."""

from __future__ import annotations

from pyspark.sql import types as T

from reddit_hn_etl_spark.operators.graph import (
    connected_components,
    dedup_clusters,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "doc_a long, doc_b long")


def test_components_chains_and_islands(spark, graph_paths):
    # chain 1-2-3-4, triangle 10-11-12, island pair 20-21; the same
    # graph with string ids, whose labels are the minimum string
    pairs = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)]
    edges = _edges(spark, pairs)
    named = spark.createDataFrame(
        [(f"v{a:02d}", f"v{b:02d}") for a, b in pairs], "doc_a string, doc_b string"
    )
    for _ in graph_paths():
        for g, v in ((edges, int), (named, lambda i: f"v{i:02d}")):
            cc = {r.vertex: r.component for r in connected_components(g).collect()}
            assert {cc[v(i)] for i in (1, 2, 3, 4)} == {v(1)}
            assert {cc[v(i)] for i in (10, 11, 12)} == {v(10)}
            assert {cc[v(i)] for i in (20, 21)} == {v(20)}


def test_dedup_clusters_transitive(spark, graph_paths):
    # (1,3),(2,3): 2 is a dup of 1 only transitively via 3 — the case
    # a greedy drop-doc_b pass gets wrong (it would keep 2).
    for _ in graph_paths():
        drops = {
            r.drop_id for r in dedup_clusters(_edges(spark, [(1, 3), (2, 3)])).collect()
        }
        assert drops == {2, 3}


def test_long_chain_converges(spark, graph_paths):
    n = 12
    edges = _edges(spark, [(i, i + 1) for i in range(n)])
    for _ in graph_paths():
        cc = {r.vertex: r.component for r in connected_components(edges).collect()}
        assert set(cc.values()) == {0} and len(cc) == n + 1


def test_very_long_chain_converges_within_default_iters(spark, graph_paths):
    """r13 pointer-jumping pin: a 200-vertex path has diameter 200 —
    plain neighbor-min needs ~200 rounds and would exhaust the
    default max_iter=20 (and raise); with the label-compression pass
    rounds are O(log diameter), so the default budget converges to
    the true min label. Guards against losing the jump pass in a
    refactor: the round budget binds only the distributed loops,
    which the second path runs."""
    n = 200
    edges = _edges(spark, [(i, i + 1) for i in range(n)])
    for _ in graph_paths():
        cc = {r.vertex: r.component for r in connected_components(edges).collect()}
        assert set(cc.values()) == {0} and len(cc) == n + 1


def test_components_raise_when_max_iter_runs_out(spark, distributed_graphs):
    """A 10-vertex path cannot settle in one round: every fixpoint
    operator (CC, k-core peeling, Bellman-Ford relaxation) raises
    naming itself and its budget instead of returning unconverged
    state. The round budgets bound the distributed loops only, so
    this forces those loops."""
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


def test_components_exact_on_extreme_ids(spark, graph_paths):
    """The convergence probe sums labels exactly: ids near 2**62 (a
    dense range high in the id space) or hash-style negative ids
    overflow a long sum, which the ANSI session turns into an error.
    Labels must still come out as the component minimum."""
    big = 2**62
    edges = _edges(spark, [(big, big + 1), (big + 2, big + 3)])
    neg = _edges(spark, [(-big, -big - 1)])
    for _ in graph_paths():
        cc = {r.vertex: r.component for r in connected_components(edges).collect()}
        assert cc == {big: big, big + 1: big, big + 2: big + 2, big + 3: big + 2}
        cc = {r.vertex: r.component for r in connected_components(neg).collect()}
        assert cc == {-big: -big - 1, -big - 1: -big - 1}


def test_empty_edges(spark, graph_paths):
    # A corpus with zero near-dup pairs must flow through cleanly:
    # no vertices, no clusters, no drops — not an error. Nor does an
    # empty graph give any other operator a row.
    from reddit_hn_etl_spark.operators.graph import (
        kcore,
        label_propagation,
        pagerank,
    )

    empty = _edges(spark, [])
    for _ in graph_paths():
        assert connected_components(empty).count() == 0
        assert dedup_clusters(empty).count() == 0
        assert kcore(empty, 1, src="doc_a", dst="doc_b").count() == 0
        assert label_propagation(empty, src="doc_a", dst="doc_b").count() == 0
        assert pagerank(empty, src="doc_a", dst="doc_b").count() == 0


def test_keep_best_empty_cluster_set(spark):
    from reddit_hn_etl_spark.operators.graph import keep_best_per_cluster

    cc = connected_components(_edges(spark, []))
    scores = spark.createDataFrame(
        [(1, 0.5)], "doc_id long, quality_score double"
    )
    assert keep_best_per_cluster(cc, scores).count() == 0


def test_components_merging_cliques_and_self_loop(spark, graph_paths):
    # chain, a triangle merged with a pendant vertex (12, 13), island
    # pair, and a vertex whose only edge is a self-loop (its own
    # component)
    edges = _edges(
        spark,
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),
         (10, 11), (11, 12), (10, 12), (12, 13),
         (20, 21), (30, 30)],
    )
    for _ in graph_paths():
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


def test_pagerank_mass_hub_and_numpy_reference(spark, graph_paths):
    """Undirected path-plus-hub graph: rank mass sums to exactly 1,
    the hub outranks everyone, and three unrolled rounds match an
    independent numpy power iteration to float tolerance."""
    import numpy as np

    from reddit_hn_etl_spark.operators.graph import pagerank

    # star 0-{1,2,3,4} plus tail 4-5-6
    pairs = [(0, 1), (0, 2), (0, 3), (0, 4), (4, 5), (5, 6)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
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
    for _ in graph_paths():
        got = {
            r["vertex"]: r["pagerank"]
            for r in pagerank(edges, n_iter=3, damping=0.875).collect()
        }
        assert abs(sum(got.values()) - 1.0) < 1e-12
        assert max(got, key=got.get) == 0
        for v in range(n):
            assert abs(got[v] - r[v]) <= 1e-12 * abs(r[v])


def test_pagerank_directed_mass_leaks_to_sinks(spark, graph_paths):
    """Directed mode keeps the raw semantics: a sink keeps absorbing
    mass (no dangling redistribution), so total mass < 1 — documented
    behavior callers opt into with undirected=False."""
    from reddit_hn_etl_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (3, 2)], "src long, dst long"
    )
    for _ in graph_paths():
        got = {
            r["vertex"]: r["pagerank"]
            for r in pagerank(edges, n_iter=2, damping=0.875, undirected=False).collect()
        }
        # vertices = those with out-edges only (1, 3); sink 2 absorbs
        assert set(got) == {1, 3}
        assert sum(got.values()) < 1.0


def test_personalized_pagerank_concentrates_on_seed_side(spark, graph_paths):
    """Barbell graph 0-1-2 — 3 — 4-5-6 with seeds {0}: mass
    concentrates on the seed side, matches a numpy reference with
    the identical update, and total mass stays exactly 1 (undirected
    ⇒ no leak)."""
    import numpy as np

    from reddit_hn_etl_spark.operators.graph import pagerank

    pairs = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 6)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
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
    for _ in graph_paths():
        got = {
            r["vertex"]: r["pagerank"]
            for r in pagerank(
                edges, n_iter=4, damping=0.875, personalization=[0]
            ).collect()
        }
        assert abs(sum(got.values()) - 1.0) < 1e-12
        assert got[0] > got[6]          # seed side dominates
        assert got[1] > got[5]
        for v in range(n):
            assert abs(got[v] - r[v]) < 1e-12


def test_weighted_pagerank_reduces_to_unweighted_on_unit_weights(spark, graph_paths):
    from pyspark.sql import functions as F

    from reddit_hn_etl_spark.operators import graph

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)], "src long, dst long"
    )
    for _ in graph_paths():
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


def test_weighted_pagerank_mass_conserved_and_weight_sensitive(spark, graph_paths):
    from reddit_hn_etl_spark.operators import graph

    edges = spark.createDataFrame(
        [(1, 2, 10), (2, 3, 1), (3, 1, 1)], "src long, dst long, w long"
    )
    for _ in graph_paths():
        pr = {
            r["vertex"]: r["pagerank"]
            for r in graph.pagerank(edges, weight_col="w", n_iter=5).collect()
        }
        assert abs(sum(pr.values()) - 1.0) < 1e-9  # undirected: mass conserved
        # vertex 3 hangs off the heavy 1-2 edge only weakly; the heavy
        # pair should outrank it
        assert pr[1] > pr[3] and pr[2] > pr[3]


def test_kcore_clique_plus_chain(spark, graph_paths):
    """3-core of (K5 clique + pendant chain) keeps exactly the clique
    with degree 4 each; a tree has an empty 2-core."""
    from pyspark.sql import functions as F  # noqa: F401

    from reddit_hn_etl_spark.operators.graph import kcore

    clique = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    chain = [(4, 10), (10, 11), (11, 12)]
    edges = spark.createDataFrame(clique + chain, "src long, dst long")
    tree = spark.createDataFrame(
        [(i, i // 2) for i in range(1, 16)], "src long, dst long"
    )
    for _ in graph_paths():
        got = {r["vertex"]: r["core_degree"] for r in kcore(edges, k=3).collect()}
        assert got == {0: 4, 1: 4, 2: 4, 3: 4, 4: 4}
        assert kcore(tree, k=2).count() == 0


def test_kcore_matches_brute_force(spark, graph_paths):
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
    assert want
    for _ in graph_paths():
        got = {r["vertex"]: r["core_degree"] for r in kcore(df, k=5).collect()}
        assert got == want


def test_kcore_canonical_fast_path_equals_default(spark, graph_paths):
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
    dup = df.unionByName(df)
    for _ in graph_paths():
        default = {
            r["vertex"]: r["core_degree"] for r in kcore(df, k=4).collect()
        }
        fast = {
            r["vertex"]: r["core_degree"]
            for r in kcore(df, k=4, canonical=True).collect()
        }
        assert fast == default and len(fast) > 0
        # and the fast path really skips the dedup: feeding it
        # NON-unique edges (a violated contract) must change the
        # degrees, proving the distinct() is gone rather than
        # silently still applied
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


def test_kcore_self_loop_both_directions_dropped(spark, graph_paths):
    """ADVICE r6: a self-loop (x,x) must not survive via the reversed
    direction and inflate x's degree. Triangle {1,2,3} plus a (1,1)
    self-loop: with k=2 the core is exactly the triangle with degree
    2 each — a leaked self-loop would give vertex 1 degree 3."""
    from reddit_hn_etl_spark.operators.graph import kcore

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (1, 1)], "src int, dst int"
    )
    for _ in graph_paths():
        got = {r["vertex"]: r["core_degree"] for r in kcore(edges, k=2).collect()}
        assert got == {1: 2, 2: 2, 3: 2}
        # k=3: the self-loop must not keep vertex 1 above the threshold
        assert kcore(edges, k=3).count() == 0


def _job_counts(spark, path, calls):
    """(build, exec) Spark jobs per call: while it builds its plan, and
    when its result is collected."""
    from .conftest import _jobs

    got = {}
    for name, fn in calls.items():
        out, build = _jobs(spark, f"graph_build_{path}_{name}", fn)
        _, run = _jobs(spark, f"graph_exec_{path}_{name}", out.collect)
        got[name] = (build, run)
    return got


def test_graph_construction_jobs(spark, graph_paths):
    """Spark jobs each graph operator runs while it builds its plan
    and when its result is collected, on a fixed small graph.

    In memory, CC, k-core, LPA and PageRank run only their eager edge
    checkpoint's jobs while they build (two for a distinct edge list
    under adaptive execution) and one job to collect.

    Distributed (the size rule forced off, joins still broadcast):
    eager edge checkpoints, one probe job per fixpoint round — the
    round's lazy checkpoint is computed by its probe. k-core's first
    probe value is the checkpoint's observed row count, not a count
    job. CC's count is not exact: a probe round runs 7 or 8 jobs
    depending on adaptive-execution stage timing, so it is pinned to
    its range. Bellman-Ford's probe is one (count, Σdist) aggregate
    per round — no per-round join against the previous distances.
    BFS and Bellman-Ford have no in-memory finish."""
    import hashlib

    from reddit_hn_etl_spark.operators import graph

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
        "pagerank": lambda: graph.pagerank(edges),
    }
    got = {}
    try:
        for path in graph_paths():
            got[path] = _job_counts(spark, path, calls)
            calls = {
                **calls,
                "bfs_distances": lambda: graph.bfs_distances(edges, seeds),
                "bellman_ford": lambda: graph.bellman_ford(edges, sources=[0]),
            }
    finally:
        edges.unpersist()
    assert got["in_memory"] == {
        "connected_components": (2, 1),
        "kcore": (2, 1),
        "label_propagation": (2, 1),
        "pagerank": (2, 1),
    }
    distributed = got["distributed"]
    cc_build, cc_exec = distributed.pop("connected_components")
    assert 30 <= cc_build <= 34 and cc_exec == 1, distributed
    assert distributed == {
        "kcore": (17, 2),
        "label_propagation": (10, 1),
        "pagerank": (8, 10),
        "bfs_distances": (16, 1),
        "bellman_ford": (26, 1),
    }


def test_graph_outputs_match_across_paths(spark, graph_paths, caplog):
    """CC, k-core and LPA give the same rows on both paths, and PageRank
    (uniform, personalized, weighted and directed) the same vertices
    with ranks within 1e-12 and mass 1 (directed: the same leak);
    every output has the same schema — names, types and nullability —
    on both paths, here with 32-bit ``int`` ids. The log record of
    each call names the path it took."""
    import hashlib
    import logging

    from reddit_hn_etl_spark.operators import graph

    rows = []
    for i in range(120):
        h = int(hashlib.md5(f"x{i}".encode()).hexdigest()[:8], 16)
        rows.append((h % 40, (h // 40) % 40, h % 3 + 1))
    edges = spark.createDataFrame(rows, "src int, dst int, w int")
    calls = {
        "connected_components": lambda: graph.connected_components(edges, "src", "dst"),
        "kcore": lambda: graph.kcore(edges, 3),
        "label_propagation": lambda: graph.label_propagation(edges, n_iter=3),
        "label_propagation_directed": lambda: graph.label_propagation(
            edges, n_iter=2, undirected=False
        ),
        "pagerank": lambda: graph.pagerank(edges),
        "pagerank_personalized": lambda: graph.pagerank(edges, personalization=[3, 5]),
        "pagerank_weighted": lambda: graph.pagerank(edges, weight_col="w", n_iter=4),
        "pagerank_directed": lambda: graph.pagerank(edges, undirected=False),
    }
    got = {}
    caplog.set_level(logging.INFO, logger=graph.__name__)
    for path in graph_paths():
        for name, fn in calls.items():
            caplog.clear()
            out = fn()
            assert f" {path.replace('_', '-')} path, " in caplog.records[-1].getMessage()
            got[path, name] = (out.schema, sorted(map(tuple, out.collect())))
    for name in calls:
        (schema, mine), (want_schema, want) = got["in_memory", name], got["distributed", name]
        assert schema == want_schema and mine and schema["vertex"].dataType == T.IntegerType()
        if not name.startswith("pagerank"):
            assert mine == want, name
            continue
        assert [v for v, _ in mine] == [v for v, _ in want], name
        assert all(abs(a - b) <= 1e-12 for (_, a), (_, b) in zip(mine, want)), name
        mass = sum(r for _, r in mine)
        assert abs(mass - sum(r for _, r in want)) <= 1e-9
        if name != "pagerank_directed":
            assert abs(mass - 1.0) <= 1e-9


def test_edge_bytes_count_string_ids_at_their_length(spark, caplog):
    """The size rule counts string ids at their UTF-8 length, not at
    the 20 B a string type defaults to. The symmetric edge list of
    one edge between two 221-byte URL ids holds 884 B, so a 300 B
    threshold sends it down the distributed loops; the default size
    would count 80 B and finish it in memory."""
    import logging

    from reddit_hn_etl_spark.operators import graph

    url = "https://example.com/" + "x" * 200
    edges = spark.createDataFrame([(url + "a", url + "b")], "src string, dst string")
    _, stats = graph._checkpoint(edges)
    assert stats == {"rows": 1, "nulls": 0, "bytes": 2 * (len(url) + 1)}
    key = "spark.sql.autoBroadcastJoinThreshold"
    own = spark.conf.get(key)
    caplog.set_level(logging.INFO, logger=graph.__name__)
    try:
        # -1, as for broadcasts, keeps every graph distributed
        for threshold in ("300", "-1"):
            spark.conf.set(key, threshold)
            core = graph.kcore(edges, 1)
            assert " distributed path, 2 edge rows, 884 B " in caplog.records[-1].getMessage()
            assert {r.vertex: r.core_degree for r in core.collect()} == {
                url + "a": 1, url + "b": 1
            }
            cc = graph.connected_components(edges, "src", "dst")
            assert " distributed path, 2 edge rows, 884 B " in caplog.records[-1].getMessage()
            assert {r.component for r in cc.collect()} == {url + "a"}
    finally:
        spark.conf.set(key, own)
