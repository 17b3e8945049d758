"""Connected components on DataFrames: transitive dedup clusters.

Near-duplicate detection yields PAIRS; correct dedup needs CLUSTERS
(a~b, b~c ⇒ {a,b,c} keep one). This module computes connected
components with the iterated min-label propagation ("hash-to-min"
style) entirely in DataFrame algebra — no GraphFrames dependency, no
driver-side graph:

    label(v) ← min(label(v), min over neighbors' labels)

repeated until no label changes. Each iteration is one join + one
aggregation (two shuffles); convergence takes O(diameter) iterations
— near-dup graphs are unions of small cliques, so diameter is tiny
(2-3). A ``max_iter`` guard bounds pathological chains and raises
``RuntimeError`` when it is hit, so unconverged labels never pass as
components (the ``kcore`` / ``bellman_ford`` policy); for
chain-heavy graphs ``connected_components_star`` below implements the
alternating large-star/small-star contraction (O(log n) rounds) with
the identical output contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """(vertex, component) for every vertex in ``edges``; component =
    the minimum vertex id reachable from it.

    Deterministic: labels are ids, min is order-free. Raises
    ``RuntimeError`` when the labels have not reached their fixpoint
    within ``max_iter`` rounds (the round that sees an unchanged label
    sum counts, so a graph whose labels settle in r rounds needs
    ``max_iter >= r + 1``).
    """
    # Materialize the symmetric edge set ONCE: it is re-read every
    # round, and `edges` may itself be an expensive pipeline (the
    # near-dup candidate join in curate_documents) that must not be
    # recomputed per iteration.
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = sym.select(F.col("u").alias("vertex")).distinct().select(
        "vertex", F.col("vertex").alias("component")
    )

    prev_sum: int | None = None
    for _ in range(max_iter):
        # neighbor-min pass: smallest label among each vertex's
        # neighborhood (including itself)
        neigh = (
            sym.join(labels, sym.v == labels.vertex)
            .select(F.col("u").alias("vertex"), F.col("component"))
            .unionByName(labels)
            .groupBy("vertex")
            .agg(F.min("component").alias("component"))
        )
        # Pointer-jumping pass (r13): follow each label's OWN label —
        # label(v) ← label(label(v)) — the classic path-halving
        # accelerant. Plain neighbor-min needs O(diameter) rounds and
        # the semantic-dedup similarity graph measured diameter ~12
        # (14 rounds at sf0.1, ~0.4 s/round of pure round latency);
        # with compression labels reach the component minimum in
        # O(log diameter) rounds. Both invariants that make the
        # fixpoint the min reachable id survive: label(v) stays inside
        # v's component (labels only ever take member ids, and
        # label(label(v)) is reachable from v by transitivity) and
        # stays monotone non-increasing (the jump target is itself a
        # min over a set containing the old value). A stalled Σ means
        # neither pass changed anything — labels are neighbor-min
        # stable, hence constant per component and equal to the min id
        # (same convergence argument as before). `neigh` is inlined
        # twice below; per round that recomputes one tiny join+agg —
        # rounds are latency-bound, not compute-bound, which is the
        # point of trading a second reference for fewer rounds.
        jumped = (
            neigh.join(
                neigh.select(
                    F.col("vertex").alias("_lv"),
                    F.col("component").alias("_lc"),
                ),
                F.col("component") == F.col("_lv"),
                "left",
            )
            .select(
                "vertex",
                F.coalesce("_lc", "component").alias("component"),
            )
        )
        # Lazy checkpoint + probe in ONE job (r13): the eager
        # checkpoint ran a materialization job and the Σ probe ran a
        # second one per round; marking the checkpoint lazy lets the
        # probe's aggregate materialize (and persist) the round's
        # labels in the same job. Labels stay monotone non-increasing,
        # so Σcomponent is strictly decreasing until the fixpoint: an
        # unchanged sum IS convergence.
        new_labels = jumped.localCheckpoint(eager=False)
        new_sum = new_labels.agg(
            F.sum("component").cast("long").alias("s")
        ).collect()[0]["s"]
        labels = new_labels
        if new_sum == prev_sum:
            return labels
        prev_sum = new_sum
    raise RuntimeError(
        f"connected_components: no fixpoint within max_iter={max_iter} rounds"
    )


def dedup_clusters(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """From near-dup pairs to a drop-list: every vertex whose cluster
    representative (min id in its component) is not itself.

    Output: (<src> alias 'drop_id', component) — anti-join your
    corpus against drop_id to keep exactly one doc per cluster.
    """
    cc = connected_components(pairs, src=src, dst=dst)
    return cc.where(F.col("vertex") != F.col("component")).select(
        F.col("vertex").alias("drop_id"), F.col("component")
    )


def keep_best_per_cluster(
    cc: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "quality_score",
) -> DataFrame:
    """Quality-ranked cluster representative: instead of keeping the
    min-id doc per near-dup cluster (``dedup_clusters``), keep the
    HIGHEST-``score_col`` doc (ties → lowest id) — what a curation
    pipeline actually wants when duplicates differ in quality
    (truncation, boilerplate, OCR noise).

    Inputs: ``cc`` = (vertex, component) from
    ``connected_components``; ``scores`` = (id_col, score_col).
    Output: (id_col, component, score_col, is_rep) — one True per
    component, deterministic.

    Plan: one broadcast-or-shuffle join on the vertex id + one window
    over ``component`` (single shuffle; cluster sizes are tiny so no
    skew hazard).
    """
    joined = cc.join(scores, cc["vertex"] == scores[id_col]).select(
        scores[id_col], cc["component"], scores[score_col]
    )
    w = Window.partitionBy("component").orderBy(
        F.desc(score_col), F.col(id_col)
    )
    return joined.select(
        id_col,
        "component",
        score_col,
        (F.row_number().over(w) == 1).alias("is_rep"),
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC 2014) — the O(log n)-round alternative to
    ``connected_components``'s O(diameter) min-label propagation.

    Each round is two passes over the edge set; every pass is one
    symmetric-neighborhood groupBy (min per node) + a filtered emit:

      * large-star: every neighbor v > u repoints to
        m(u) = min(N(u) ∪ {u})
      * small-star: every neighbor v ≤ u, and u itself, repoints to m(u)

    The edge set contracts toward per-component stars centered on the
    min id; convergence = edge-set fixpoint (checksum + count probe on
    the checkpointed frame). Labels then read directly off the stars.

    Use when components can be long chains (lineage graphs, link
    graphs): min-label needs O(diameter) rounds there, the star
    algorithm O(log n). For near-dup cliques (diameter 2-3) min-label
    wins on constant factors. Output: (vertex, component) — identical
    contract, cross-checked in tests. Raises ``RuntimeError`` when the
    edge set has not reached its fixpoint within ``max_iter`` rounds.
    """
    e = (
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("u"),
            F.least(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    verts = (
        edges.select(F.col(src).alias("x"))
        .unionByName(edges.select(F.col(dst).alias("x")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _star(frame: DataFrame, large: bool) -> DataFrame:
        sym = frame.unionByName(
            frame.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        j = sym.join(mins, "u")
        if large:
            out = j.where(F.col("v") > F.col("u")).select("v", "m")
        else:
            out = j.where(F.col("v") <= F.col("u")).select("v", "m").unionByName(
                mins.select(F.col("u").alias("v"), "m")
            )
        return (
            out.select(
                F.greatest(F.col("v"), F.col("m")).alias("u"),
                F.least(F.col("v"), F.col("m")).alias("v"),
            )
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def _probe(frame: DataFrame) -> tuple[int, int]:
        # bit_xor: order-independent set checksum that cannot overflow
        # (sum(hash) trips ANSI long-overflow on adversarial inputs)
        row = frame.agg(
            F.count("*").alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    prev = None
    for _ in range(max_iter):
        # lazy checkpoint + probe in one job (r13): the probe's
        # count/xor aggregate materializes (and persists) the round's
        # edge set itself — one driver job per round instead of two.
        e = _star(_star(e, large=True), large=False).localCheckpoint(
            eager=False
        )
        cur = _probe(e)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components_star: no fixpoint within max_iter={max_iter} rounds"
        )

    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    labels = sym.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("component")
    )
    return (
        verts.join(labels, verts.x == labels.u, "left")
        .select(
            F.col("x").alias("vertex"),
            F.coalesce("component", F.col("x")).alias("component"),
        )
    )


def triangle_stats(
    edges: DataFrame, src: str = "doc_a", dst: str = "doc_b"
) -> DataFrame:
    """Per-vertex degree, triangle count, and local clustering
    coefficient over an undirected edge set.

    Triangle participation is the transitivity signal on a near-dup
    candidate graph: vertices whose neighbors are ALSO pairwise
    similar sit in genuine duplicate cliques, while bridge vertices
    (high degree, few triangles) usually mark boilerplate-induced
    false candidates worth re-scoring.

    Algorithm (Suri–Vassilvitskii shape, the MapReduce-scale one):
    orient each undirected edge from the (degree, id)-smaller vertex
    to the larger; every triangle then has exactly one wedge at its
    smallest vertex, so the wedge join `E'(u,v) ⋈ E'(v,w) ⋈ E'(u,w)`
    enumerates each triangle once. Orientation bounds every
    out-neighborhood by O(√m) regardless of skew — a celebrity vertex
    of degree d contributes wedges only toward HIGHER-ranked vertices,
    so the join fan-out never goes quadratic in d.

    Plan: degree agg (one shuffle) → broadcast-degree orientation →
    two equality self-joins on the oriented edge list → role-union
    count per vertex. Output: (vertex, degree, triangles, clustering)
    where clustering = 2·triangles / (degree·(degree−1)) (0.0 for
    degree 1), rounded to 4 — exact rational before the final divide,
    so cross-engine hash-stable.
    """
    # Materialize the canonical edge list ONCE (r13): `und` feeds the
    # degree aggregate, the orientation join (twice), all three legs
    # of the wedge/closure joins and the final report — without the
    # checkpoint every reference re-inlines the PRODUCER of `edges`
    # (for the near-dup graph that is the whole Sum-df^2 jaccard
    # candidate flow, re-executed up to 8x). The near-dup edge list
    # is pairs-above-threshold — orders of magnitude below corpus
    # scale by construction.
    und = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        und.select(F.col("u").alias("vertex"))
        .unionByName(und.select(F.col("v").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count("*").alias("degree"))
    )
    ranked = (
        und.join(deg.withColumnRenamed("vertex", "u"), "u")
        .withColumnRenamed("degree", "deg_u")
        .join(
            deg.select(F.col("vertex").alias("v"), F.col("degree").alias("deg_v")),
            "v",
        )
    )
    lower_first = (F.col("deg_u") < F.col("deg_v")) | (
        (F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))
    )
    oriented = ranked.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("b"),
    )
    wedges = oriented.alias("e1").join(
        oriented.alias("e2"), F.col("e1.b") == F.col("e2.a")
    ).select(
        F.col("e1.a").alias("x"), F.col("e1.b").alias("y"), F.col("e2.b").alias("z")
    )
    tris = wedges.join(
        oriented.alias("e3"),
        (F.col("x") == F.col("e3.a")) & (F.col("z") == F.col("e3.b")),
    ).select("x", "y", "z")
    tri_per_vertex = (
        tris.select(F.col("x").alias("vertex"))
        .unionByName(tris.select(F.col("y").alias("vertex")))
        .unionByName(tris.select(F.col("z").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count("*").alias("triangles"))
    )
    possible = F.col("degree") * (F.col("degree") - 1)
    return (
        deg.join(tri_per_vertex, "vertex", "left")
        .withColumn("triangles", F.coalesce("triangles", F.lit(0)))
        .withColumn(
            "clustering",
            F.round(
                F.when(
                    F.col("degree") > 1,
                    2 * F.col("triangles") / possible,
                ).otherwise(F.lit(0.0)),
                4,
            ),
        )
        .select("vertex", "degree", "triangles", "clustering")
    )


def pagerank(
    edges: DataFrame,
    n_iter: int = 3,
    damping: float = 0.875,
    src: str = "src",
    dst: str = "dst",
    undirected: bool = True,
    personalization: list | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """PageRank by unrolled power iteration: (vertex, pagerank).

    Each round is ONE join (edge ⋈ current ranks on the source) and
    ONE aggregation (sum of rank/degree contributions per target) —
    two shuffles, the same per-round shape as `connected_components`,
    with the edge+degree side materialized once via localCheckpoint
    so no iteration re-runs the upstream edge pipeline. The vertex
    count rides along as a broadcast 1-row aggregate; the driver
    never holds ranks.

    With ``undirected=True`` (the near-dup-graph case) edges are
    symmetrized, so every vertex has out-degree ≥ 1 and the dangling
    -mass correction vanishes; rank mass is conserved at exactly 1.
    The default damping 0.875 = 7/8 is binary-exact, which keeps the
    (1−d)/N + d·s update bit-stable enough that ranks rounded to 12
    decimals are engine-portable (differential-testing discipline —
    the float error of plain SUM aggregation is ~1e-19 absolute on
    O(1/N) ranks, nine orders below the rounding grid, and the
    damping contraction shrinks it every round).

    ``personalization`` (a vertex list) switches to personalized
    PageRank: teleport mass lands uniformly on that source set
    instead of all vertices (p_v = 1/|S| on S, else 0; init = p) —
    similarity-to-seed ranking for recommendation / related-item
    queries. Vertices unreachable from S converge toward 0.
    """
    if weight_col is not None:
        # weighted: contributions are rank·w/out-strength. Integer
        # count weights keep out-strengths exact; the per-edge double
        # is then identical cross-engine and the plain-SUM noise sits
        # as far below the caller's rounding grid as the unweighted
        # case (see the damping-contraction argument above).
        e = edges.select(
            F.col(src).alias("src"),
            F.col(dst).alias("dst"),
            F.col(weight_col).alias("w"),
        )
        if undirected:
            e = e.unionByName(
                e.select(
                    F.col("dst").alias("src"),
                    F.col("src").alias("dst"),
                    F.col("w"),
                )
            )
        e = e.groupBy("src", "dst").agg(F.sum("w").alias("w"))
        deg = e.groupBy("src").agg(F.sum("w").alias("deg"))
    else:
        e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        if undirected:
            e = e.unionByName(
                e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
        e = e.distinct().withColumn("w", F.lit(1))
        deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    # one materialization reused by every round
    ed = e.join(deg, "src").localCheckpoint(eager=True)
    verts = deg.select(F.col("src").alias("vertex"))
    n = verts.agg(F.count("*").alias("n"))
    if personalization is None:
        base = verts.crossJoin(F.broadcast(n)).select(
            "vertex", (F.lit(1.0) / F.col("n")).alias("p")
        )
    else:
        seeds = sorted(set(personalization))
        seed_df = edges.sparkSession.createDataFrame(
            [(v,) for v in seeds], ["vertex"]
        ).withColumn("p", F.lit(1.0 / len(seeds)))
        base = verts.join(F.broadcast(seed_df), "vertex", "left").select(
            "vertex", F.coalesce(F.col("p"), F.lit(0.0)).alias("p")
        )
    # the teleport vector is re-read every round — pin it once
    base = base.localCheckpoint(eager=True)
    ranks = base.select("vertex", F.col("p").alias("pagerank"))
    for _ in range(n_iter):
        contrib = ed.join(
            ranks, ed.src == ranks.vertex
        ).select(
            F.col("dst"),
            (F.col("pagerank") * F.col("w") / F.col("deg")).alias("c"),
        )
        s = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        ranks = (
            base.join(s, base.vertex == s.dst, "left")
            .select(
                "vertex",
                (
                    (F.lit(1.0) - F.lit(damping)) * F.col("p")
                    + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("pagerank"),
            )
        )
    return ranks


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "v",
    undirected: bool = True,
) -> DataFrame:
    """Multi-source BFS: (vertex, dist) = min #hops from any seed,
    for dist <= max_hops; unreached vertices are absent.

    Frontier expansion, not relaxation: round i joins ONLY the
    vertices first reached at distance i−1 against the edge list,
    anti-joins out everything already settled, and unions the
    remainder in at distance i. Each round is one equi-join + one
    left-anti + one distinct — all shuffles on the vertex key, and
    the frontier SHRINKS as the reachable set saturates (the
    classic Pregel/GraphX BFS shape). The settled set and frontier
    are localCheckpoint-ed per round so round i never re-executes
    rounds 0..i−1 — lineage growth is what kills iterative
    DataFrame jobs at scale, not the per-round cost.

    Distances are exact small integers, so the query layer needs no
    float policy at all; the DuckDB oracle is the textbook bounded
    recursive CTE with MIN(d) GROUP BY v.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if undirected:
        e = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    e = e.distinct().localCheckpoint(eager=True)
    settled = (
        seeds.select(F.col(seed_col).alias("vertex"))
        .distinct()
        .withColumn("dist", F.lit(0))
        .localCheckpoint(eager=True)
    )
    frontier = settled
    for hop in range(1, max_hops + 1):
        # Lazy checkpoints (r13): BFS runs a FIXED hop count with no
        # per-round convergence probe, so nothing needs per-round
        # materialization — the caller's first action computes the
        # whole unrolled expansion in ONE job while each hop's
        # checkpoint still cuts the logical plan (round i's plan reads
        # round i−1's RDD scan, not its lineage). Eager mode paid two
        # materialization jobs per hop of pure scheduling latency.
        nxt = (
            frontier.join(e, frontier["vertex"] == e["src"])
            .select(F.col("dst").alias("vertex"))
            .distinct()
            .join(settled.select("vertex"), "vertex", "left_anti")
            .withColumn("dist", F.lit(hop))
            .localCheckpoint(eager=False)
        )
        settled = settled.union(nxt).localCheckpoint(eager=False)
        frontier = nxt
    return settled


def label_propagation(
    edges: DataFrame,
    n_iter: int = 2,
    src: str = "src",
    dst: str = "dst",
    undirected: bool = True,
) -> DataFrame:
    """Deterministic synchronous label propagation (Raghavan et al.
    2007) for community detection: every vertex starts labeled with
    itself; each round it adopts the most frequent label among its
    neighbors, ties broken toward the SMALLEST label — the
    deterministic tie rule that makes the fixed round count
    reproducible across engines and partitionings (classic LPA's
    random tie-break is not differential-testable).

    Per round: one join (edges ⋈ labels on the source), one
    (dst, label) count aggregation, one per-dst windowed argmax —
    all shuffles keyed on vertices, the same per-round budget as
    connected components / PageRank, checkpointed per round.
    Returns (vertex, community) after exactly ``n_iter`` rounds.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if undirected:
        e = e.union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    e = e.distinct().localCheckpoint(eager=True)
    labels = (
        e.select(F.col("src").alias("vertex"))
        .distinct()
        .withColumn("community", F.col("vertex"))
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy("vertex").orderBy(
        F.desc("n"), F.asc("community")
    )
    for _ in range(n_iter):
        counts = (
            e.join(labels, e["src"] == labels["vertex"])
            .select(F.col("dst").alias("vertex"), "community")
            .groupBy("vertex", "community")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        labels = (
            counts.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("vertex", "community")
            # lazy (r13): fixed round count, no convergence probe —
            # the caller's action materializes all rounds in one job
            # while each round's checkpoint still cuts the plan
            .localCheckpoint(eager=False)
        )
    return labels


def kcore(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 30,
    canonical: bool = False,
) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly delete
    vertices with degree < k (and their edges) until a fixpoint.

    Input edges are treated as UNDIRECTED (symmetrized + dedup'd
    here); output is one row per surviving vertex with its degree
    inside the core. Per round: one degree aggregate + one semi-join
    filter — the CC/PageRank round budget — with the edge frame
    localCheckpoint-ed so round i never re-executes rounds < i. The
    driver-side convergence probe reads ONE count per round (same
    pattern as connected_components; the previous round's count is
    carried forward, never recounted). Rounds needed ≤ the peel depth
    (graph-dependent, log-ish on real co-occurrence graphs); raises
    if max_rounds is hit without convergence so a silent partial
    peel can never masquerade as the core.

    ``canonical=True`` asserts the caller's edges are already
    deduplicated with ``src < dst`` per row — then the symmetrized
    union is distinct BY CONSTRUCTION ((s,d) and (d,s) can't collide
    when s < d, and the two direction sets are disjoint), so the
    full-edge-set ``distinct()`` shuffle is skipped. On the sf0.1
    co-purchase graph (2.4M symmetric edges) that shuffle was the
    dominant cost of the whole query: 5.2s edge build → 2.4s (r6).
    """
    s_col = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    d_col = edges.select(F.col(dst).alias("s"), F.col(src).alias("d"))
    if canonical:
        # Precondition (caller-asserted): distinct edges with s < d,
        # which also excludes self-loops — violating it detectably
        # inflates degrees (contract-tested).
        e = s_col.unionByName(d_col).localCheckpoint(eager=True)
    else:
        # Self-loop filter AFTER the union: filtering only s_col lets
        # (x,x) re-enter via the reversed d_col side, survive
        # distinct(), and inflate x's degree by 1 (ADVICE r6).
        e = (
            s_col.unionByName(d_col)
            .where(F.col("s") != F.col("d"))
            .distinct()
            .localCheckpoint(eager=True)
        )
    prev = e.count()
    for _ in range(max_rounds):
        deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.where(F.col("deg") >= k).select("s")
        # lazy checkpoint + count probe in one job (r13): the eager
        # materialization job and the count job per round fuse — the
        # count computes (and persists) the round's edge set itself.
        e2 = (
            e.join(keep, "s", "left_semi")
            .join(keep.select(F.col("s").alias("d")), "d", "left_semi")
            .localCheckpoint(eager=False)
        )
        after = e2.count()
        e = e2
        if after == prev:
            return (
                e.groupBy("s")
                .agg(F.count(F.lit(1)).alias("core_degree"))
                .select(F.col("s").alias("vertex"), "core_degree")
            )
        prev = after
    raise RuntimeError(f"kcore: no fixpoint within {max_rounds} rounds")


def bellman_ford(
    edges: DataFrame,
    sources: list[int],
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    max_rounds: int = 40,
) -> DataFrame:
    """Single-source (or multi-source) shortest WEIGHTED paths by
    Bellman-Ford relaxation — the weighted upgrade of bfs_distances.

    Treats edges as directed (symmetrize upstream for undirected
    graphs); weights must be non-negative for the fixpoint to be the
    true distance. Per round: one dist⋈edges join + a min aggregate
    (the CC round budget), localCheckpoint-ed; the driver probe
    counts changed vertices and stops at 0. Converges in ≤ (max
    shortest-path hop count) rounds; raises on non-convergence so a
    partial relaxation can never pass as the answer. Distances stay
    exact integers when weights are integers."""
    e = edges.select(
        F.col(src).alias("s"), F.col(dst).alias("d"), F.col(weight).alias("w")
    ).localCheckpoint(eager=True)
    dist = (
        e.sparkSession.createDataFrame(
            [(int(v), 0) for v in sources], "vertex long, dist long"
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(max_rounds):
        relaxed = (
            dist.join(e, dist.vertex == e.s)
            .select(F.col("d").alias("vertex"), (F.col("dist") + F.col("w")).alias("dist"))
            .unionByName(dist)
            .groupBy("vertex")
            .agg(F.min("dist").alias("dist"))
            # lazy: the changed-count probe below materializes (and
            # persists) the round's distances in the same job (r13)
            .localCheckpoint(eager=False)
        )
        changed = (
            relaxed.join(
                dist.withColumnRenamed("dist", "old"), "vertex", "left"
            )
            .where(F.col("old").isNull() | (F.col("dist") != F.col("old")))
            .count()
        )
        dist = relaxed
        if changed == 0:
            return dist
    raise RuntimeError(f"bellman_ford: no fixpoint within {max_rounds} rounds")
