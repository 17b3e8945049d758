"""Graph operators on DataFrames: connected components (transitive
dedup clusters), triangles, PageRank, BFS, label propagation, k-core
and Bellman-Ford — in DataFrame algebra, no GraphFrames dependency,
no driver-side graph.

Near-duplicate detection yields PAIRS; correct dedup needs CLUSTERS
(a~b, b~c ⇒ {a,b,c} keep one). ``connected_components`` computes them
by iterated min-label propagation ("hash-to-min" style) with a
pointer-jumping pass:

    label(v) ← min(label(v), min over neighbors' labels)
    label(v) ← label(label(v))

repeated until no label changes; rounds are O(log diameter).

Three private seams carry the operators:

* ``_sym`` / ``_edges`` build the edge list: both directions of every
  input edge (or the directed list), as ``(src, dst, *carry)``.
* ``_fixpoint`` is the one probe-driven loop (CC, ``kcore``,
  ``bellman_ford``). Each round checkpoints ``step(state)`` lazily,
  so the probe's 1-row aggregate both computes and persists the
  round — one driver job per round. The loop stops when the probe
  value repeats and raises ``RuntimeError`` when the round budget
  runs out, so unconverged state never passes as the answer. Every
  probe is a fixpoint test because the state moves monotonically:
  CC labels only fall (exact Σlabel over ``decimal(38,0)``, which
  cannot overflow on 64-bit ids), k-core edges are only removed
  (edge count), Bellman-Ford distances only fall while vertices are
  only added (vertex count, exact Σdist). ``_probe`` holds the
  module's one ``.collect()``.
* ``_finish`` is the in-memory finish of ``connected_components``,
  ``kcore``, ``label_propagation`` and ``pagerank`` (Kiveris et al.,
  SoCC 2014: once what remains is small, finish it in memory). Each
  of them checkpoints its edge frame eagerly once (``_checkpoint``),
  and an ``Observation`` on that checkpoint's own job counts its
  rows, its null rows and its bytes (string values at their UTF-8
  length, any other value at its type's default size) — no extra
  Spark job. The size rule (``_in_memory``) is the one Spark uses to
  broadcast a relation: when those bytes are at most
  ``spark.sql.autoBroadcastJoinThreshold`` (64 MiB in the engine's
  session, about 4M two-long edges; 10 MiB in a vanilla session),
  no row holds a null and the ids are integers or strings, one
  Python-worker task (``coalesce(1).mapInPandas``) runs a numpy
  kernel over the whole edge list and the result is checkpointed
  lazily: building the result then runs only the edge checkpoint's
  jobs, and the caller's action runs one more. Otherwise — and
  always at a threshold of −1 — the distributed loops run
  unchanged. Both paths give the same rows under the same schema;
  PageRank may differ by float summation order (≤ 1e-12). One
  ``logging`` record per call names the operator, the path taken,
  the edge rows and bytes against the threshold, and the
  distributed rounds run.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

_log = logging.getLogger(__name__)


def _probe(frame: DataFrame, *aggs: Column) -> tuple:
    """The values of a 1-row aggregate over ``frame``."""
    return tuple(frame.agg(*aggs).collect()[0])


def _fixpoint(op, state, step, probe, max_rounds, budget, prev=None):
    """Iterate ``state ← step(state)`` until ``probe(state)`` repeats;
    returns the final state and the rounds run.

    ``prev`` is the probe value of the initial state when the caller
    already knows it; the default None stops the first round only when
    its probe is None too (an empty aggregate)."""
    for rounds in range(1, max_rounds + 1):
        state = step(state).localCheckpoint(eager=False)
        cur = probe(state)
        if cur == prev:
            return state, rounds
        prev = cur
    raise RuntimeError(f"{op}: no fixpoint within {budget}={max_rounds} rounds")


def _checkpoint(frame: DataFrame) -> tuple[DataFrame, dict]:
    """``frame`` checkpointed eagerly, with its ``rows``, the count of
    rows holding a null (``nulls``) and its ``bytes`` (module
    docstring), all observed on the checkpoint's own job."""
    obs = Observation()
    jschema = frame._jdf.schema()
    null, width = F.lit(False), F.lit(0)
    for f in frame.schema:
        null = null | F.col(f.name).isNull()
        if isinstance(f.dataType, T.StringType):
            width = width + F.octet_length(f.name)
        else:
            width = width + F.lit(jschema.apply(f.name).dataType().defaultSize())
    frame = frame.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.count_if(null).alias("nulls"),
        F.coalesce(F.sum(width), F.lit(0)).alias("bytes"),
    ).localCheckpoint(eager=True)
    return frame, obs.get


def _in_memory(edges: DataFrame, stats: dict, limit: int) -> bool:
    """The size rule of the graph operators (module docstring): the
    observed edge frame fits under the broadcast threshold ``limit``,
    holds no null and has integer or string ids."""
    ids = (edges.schema[c].dataType for c in ("src", "dst"))
    return (
        stats["bytes"] <= limit
        and not stats["nulls"]
        and all(isinstance(t, (T.IntegralType, T.StringType)) for t in ids)
    )


def _finish(op, edges, stats, kernel, like, distributed):
    """The in-memory finish or the distributed loops, by ``_in_memory``.

    ``edges`` is the operator's eagerly checkpointed edge frame with
    ``(src, dst)`` first, ``stats`` its ``_checkpoint`` observation.
    In memory, ``kernel`` maps a pandas frame of all edge rows to the
    result rows, typed by the schema of ``like()``, a lazy frame of
    the distributed result (analysis only, no job). ``distributed()``
    returns the distributed result and the rounds it ran."""
    conf = edges.sparkSession._jsparkSession.sessionState().conf()
    limit = conf.autoBroadcastJoinThreshold()
    if _in_memory(edges, stats, limit):
        path, rounds = "in-memory", 0
        result = (
            edges.coalesce(1)
            .mapInPandas(lambda batches: _whole(kernel, batches), like().schema)
            .localCheckpoint(eager=False)
        )
    else:
        path = "distributed"
        result, rounds = distributed()
    _log.info(
        "%s: %s path, %d edge rows, %d B against autoBroadcastJoinThreshold=%d B, "
        "%d distributed rounds", op, path, stats["rows"], stats["bytes"], limit, rounds,
    )
    return result


def _whole(kernel, batches):
    """``kernel`` over the concatenation of every Arrow batch of the
    one partition; an edge list with no rows yields no rows."""
    import pandas as pd

    frames = [b for b in batches if len(b)]
    if frames:
        yield kernel(pd.concat(frames, ignore_index=True))


def _factorize(pdf):
    """(ids, s, d): the sorted distinct ids of ``pdf``'s src and dst
    columns and each edge's endpoints as positions into ``ids``.
    Position order is id order, so a min over positions is a min over
    ids."""
    import numpy as np

    src, dst = pdf["src"].to_numpy(), pdf["dst"].to_numpy()
    ids, pos = np.unique(np.concatenate([src, dst]), return_inverse=True)
    return ids, pos[: len(src)], pos[len(src):]


def _components_kernel(pdf):
    """Min-label propagation with pointer jumping over a symmetric edge
    list (every vertex is some edge's src): (vertex, component)."""
    import numpy as np
    import pandas as pd

    ids, s, d = _factorize(pdf)
    order = np.argsort(s, kind="stable")
    s, d = s[order], d[order]
    starts = np.flatnonzero(np.r_[True, s[1:] != s[:-1]])
    heads = s[starts]
    label = np.arange(len(ids))
    while True:
        new = label.copy()
        new[heads] = np.minimum(label[heads], np.minimum.reduceat(label[d], starts))
        while True:  # jump every label to its root
            jumped = new[new]
            if np.array_equal(jumped, new):
                break
            new = jumped
        if np.array_equal(new, label):
            break
        label = new
    return pd.DataFrame({"vertex": ids, "component": ids[label]})


def _kcore_kernel(k, pdf):
    """Peeling to the fixpoint over an edge multiset: drop every edge
    with an endpoint of out-degree < ``k`` until none is dropped;
    (vertex, core_degree) per surviving src."""
    import numpy as np
    import pandas as pd

    ids, s, d = _factorize(pdf)
    while True:
        keep = np.bincount(s, minlength=len(ids)) >= k
        alive = keep[s] & keep[d]
        if alive.all():
            break
        s, d = s[alive], d[alive]
    deg = np.bincount(s, minlength=len(ids))
    v = np.flatnonzero(deg)
    return pd.DataFrame({"vertex": ids[v], "core_degree": deg[v]})


def _communities_kernel(n_iter, pdf):
    """``n_iter`` synchronous label-propagation rounds over a distinct
    edge list: each labeled src sends its label to its dsts; a dst
    takes its most frequent label, ties to the smallest, and only
    dsts stay labeled. (vertex, community)."""
    import numpy as np
    import pandas as pd

    ids, s, d = _factorize(pdf)
    n = len(ids)
    labeled = np.zeros(n, dtype=bool)
    labeled[s] = True
    label = np.arange(n)
    for _ in range(n_iter):
        sent = labeled[s]
        key, votes = np.unique(d[sent] * n + label[s[sent]], return_counts=True)
        dd, ll = key // n, key % n
        order = np.lexsort((ll, -votes, dd))
        dd, ll = dd[order], ll[order]
        first = np.r_[True, dd[1:] != dd[:-1]]
        labeled = np.zeros(n, dtype=bool)
        labeled[dd[first]] = True
        label = label.copy()
        label[dd[first]] = ll[first]
    v = np.flatnonzero(labeled)
    return pd.DataFrame({"vertex": ids[v], "community": ids[label[v]]})


def _pagerank_kernel(n_iter, damping, seeds, pdf):
    """``n_iter`` power-iteration rounds over (src, dst, w) rows: the
    vertices are the srcs, deg a src's out-strength Σw, p the uniform
    (or ``seeds``) teleport vector, and each round
    r ← (1−d)·p + d·Σ r[src]·w/deg[src] over the in-edges. Edges are
    summed in (dst, src) order, so equal inputs give equal bits
    whatever the row order. (vertex, pagerank)."""
    import numpy as np
    import pandas as pd

    pdf = pdf.sort_values(["dst", "src"], kind="stable")
    ids, s, d = _factorize(pdf)
    w = pdf["w"].to_numpy(dtype=np.float64)
    deg = np.bincount(s, weights=w, minlength=len(ids))[s]
    verts = np.unique(s)
    if seeds is None:
        p = np.full(len(verts), 1.0 / len(verts))
    else:
        p = np.where(np.isin(ids[verts], seeds), 1.0 / len(seeds), 0.0)
    r = np.zeros(len(ids))
    r[verts] = p
    for _ in range(n_iter):
        sums = np.bincount(d, weights=r[s] * w / deg, minlength=len(ids))
        r = np.zeros(len(ids))
        r[verts] = (1.0 - damping) * p + damping * sums[verts]
    return pd.DataFrame({"vertex": ids[verts], "pagerank": r[verts]})


def _sym(edges, src, dst, *carry):
    """Both directions of every edge: (src, dst, *carry) ∪ (dst, src, *carry)."""
    fwd = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"), *carry)
    back = [F.col("dst").alias("src"), F.col("src").alias("dst"), *fwd.columns[2:]]
    return fwd.unionByName(fwd.select(*back))


def _edges(edges, src, dst, undirected, *carry):
    """(src, dst, *carry): symmetrized when ``undirected``, else as given."""
    if undirected:
        return _sym(edges, src, dst, *carry)
    return edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"), *carry)


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """(vertex, component) for every vertex in ``edges``; component =
    the minimum vertex id reachable from it.

    Deterministic: labels are ids, min is order-free. On the
    distributed path, raises ``RuntimeError`` when the labels have not
    reached their fixpoint within ``max_iter`` rounds (the round that
    sees an unchanged label sum counts, so a graph whose labels settle
    in r rounds needs ``max_iter >= r + 1``). The in-memory finish
    always reaches the fixpoint, so ``max_iter`` bounds only the
    distributed rounds.

    Construction jobs: the symmetric edge checkpoint's (two under
    adaptive execution), plus one probe job per distributed round;
    the in-memory finish runs in the caller's action.
    """
    # Materialize the symmetric edge set ONCE: it is re-read every
    # round, and `edges` may itself be an expensive pipeline (the
    # near-dup candidate join in curate_documents) that must not be
    # recomputed per iteration.
    sym, stats = _checkpoint(_sym(edges, src, dst).distinct())
    labels = sym.select(F.col("src").alias("vertex")).distinct().select(
        "vertex", F.col("vertex").alias("component")
    )

    def step(labels: DataFrame) -> DataFrame:
        # neighbor-min pass: smallest label among each vertex's
        # neighborhood (including itself)
        neigh = (
            sym.join(labels, sym.dst == labels.vertex)
            .select(F.col("src").alias("vertex"), F.col("component"))
            .unionByName(labels)
            .groupBy("vertex")
            .agg(F.min("component").alias("component"))
        )
        # Pointer-jumping pass: label(v) ← label(label(v)), the
        # path-halving accelerant. Plain neighbor-min needs O(diameter)
        # rounds (the semantic-dedup similarity graph has diameter ~12
        # at sf0.1); with compression labels reach the component
        # minimum in O(log diameter) rounds. The fixpoint is still the
        # min reachable id: label(v) only takes member ids of v's
        # component and never increases (the jump target is a min over
        # a set containing the old value). A stalled Σ means neither
        # pass changed anything — labels are neighbor-min stable, hence
        # constant per component and equal to its min id. `neigh` is
        # inlined twice; rounds are latency-bound, not compute-bound.
        return neigh.join(
            neigh.select(
                F.col("vertex").alias("_lv"), F.col("component").alias("_lc")
            ),
            F.col("component") == F.col("_lv"),
            "left",
        ).select("vertex", F.coalesce("_lc", "component").alias("component"))

    # Σlabel is exact over decimal(38,0): a long sum overflows (ANSI
    # error) on large or negative hash-style ids. Ids that are not
    # integers (strings) probe an order-free checksum of (vertex,
    # label) instead, as bellman_ford does for fractional weights. The
    # empty graph probes NULL, which matches the default prev=None: it
    # settles in its first round.
    if isinstance(sym.schema["src"].dataType, T.IntegralType):
        label_sum = F.sum(F.col("component").cast("decimal(38,0)"))
    else:
        label_sum = F.bit_xor(F.xxhash64("vertex", "component"))
    return _finish(
        "connected_components", sym, stats, _components_kernel,
        lambda: step(labels),
        lambda: _fixpoint(
            "connected_components", labels, step,
            lambda s: _probe(s, label_sum)[0], max_iter, "max_iter",
        ),
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

    Construction jobs: the edge checkpoint's; the distributed path
    adds the teleport vector's checkpoint, and its caller's action
    runs the unrolled rounds.
    """
    if weight_col is not None:
        # weighted: contributions are rank·w/out-strength. Integer
        # count weights keep out-strengths exact; the per-edge double
        # is then identical cross-engine and the plain-SUM noise sits
        # as far below the caller's rounding grid as the unweighted
        # case (see the damping-contraction argument above).
        e = _edges(
            edges, src, dst, undirected, F.col(weight_col).alias("w")
        ).groupBy("src", "dst").agg(F.sum("w").alias("w"))
        strength = F.sum("w")
    else:
        e = _edges(edges, src, dst, undirected).distinct().withColumn("w", F.lit(1))
        strength = F.count("*")
    # the edge list, materialized once for either path
    e, stats = _checkpoint(e)
    deg = e.groupBy("src").agg(strength.alias("deg"))
    ed = e.join(deg, "src")
    verts = deg.select(F.col("src").alias("vertex"))
    n = verts.agg(F.count("*").alias("n"))
    seeds = None if personalization is None else sorted(set(personalization))
    if seeds is None:
        base = verts.crossJoin(F.broadcast(n)).select(
            "vertex", (F.lit(1.0) / F.col("n")).alias("p")
        )
    else:
        seed_df = edges.sparkSession.createDataFrame(
            [(v,) for v in seeds], ["vertex"]
        ).withColumn("p", F.lit(1.0 / len(seeds)))
        base = verts.join(F.broadcast(seed_df), "vertex", "left").select(
            "vertex", F.coalesce(F.col("p"), F.lit(0.0)).alias("p")
        )

    def power(base: DataFrame, ed: DataFrame) -> DataFrame:
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

    return _finish(
        "pagerank", e, stats,
        lambda pdf: _pagerank_kernel(n_iter, damping, seeds, pdf),
        lambda: power(base, ed),
        # the teleport vector and the edge+degree side are re-read
        # every round — pin them once (the latter by the first round)
        lambda: (
            power(base.localCheckpoint(eager=True), ed.localCheckpoint(eager=False)),
            n_iter,
        ),
    )


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
    e = _edges(edges, src, dst, undirected).distinct().localCheckpoint(eager=True)
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
    Returns (vertex, community) after exactly ``n_iter`` rounds, on
    either path.

    Construction jobs: the edge checkpoint's; the distributed path
    adds the initial labels' checkpoint, and its caller's action runs
    the rounds.
    """
    e, stats = _checkpoint(_edges(edges, src, dst, undirected).distinct())
    labels = (
        e.select(F.col("src").alias("vertex"))
        .distinct()
        .withColumn("community", F.col("vertex"))
    )
    w = Window.partitionBy("vertex").orderBy(
        F.desc("n"), F.asc("community")
    )

    def step(labels: DataFrame) -> DataFrame:
        counts = (
            e.join(labels, e["src"] == labels["vertex"])
            .select(F.col("dst").alias("vertex"), "community")
            .groupBy("vertex", "community")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        return (
            counts.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("vertex", "community")
        )

    def distributed():
        state = labels.localCheckpoint(eager=True)
        for _ in range(n_iter):
            # lazy (r13): fixed round count, no convergence probe —
            # the caller's action materializes all rounds in one job
            # while each round's checkpoint still cuts the plan
            state = step(state).localCheckpoint(eager=False)
        return state, n_iter

    return _finish(
        "label_propagation", e, stats,
        lambda pdf: _communities_kernel(n_iter, pdf),
        lambda: step(labels) if n_iter else labels,
        distributed,
    )


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
    carried forward, never recounted, and the first one is the edge
    checkpoint's observed row count). Rounds needed ≤ the peel depth
    (graph-dependent, log-ish on real co-occurrence graphs); raises
    if max_rounds is hit without convergence so a silent partial
    peel can never masquerade as the core. The in-memory finish
    always peels to the fixpoint, so ``max_rounds`` bounds only the
    distributed rounds.

    Construction jobs: the edge checkpoint's, plus one count job per
    distributed round.

    ``canonical=True`` asserts the caller's edges are already
    deduplicated with ``src < dst`` per row — then the symmetrized
    union is distinct BY CONSTRUCTION ((s,d) and (d,s) can't collide
    when s < d, and the two direction sets are disjoint), so the
    full-edge-set ``distinct()`` shuffle is skipped. On the sf0.1
    co-purchase graph (2.4M symmetric edges) that shuffle was the
    dominant cost of the whole query: 5.2s edge build → 2.4s (r6).
    """
    e = _sym(edges, src, dst)
    if not canonical:
        # Self-loop filter AFTER the union: filtering only one side
        # lets (x,x) re-enter via the reversed side, survive
        # distinct(), and inflate x's degree by 1. (canonical=True:
        # the caller-asserted precondition — distinct edges with
        # src < dst — also excludes self-loops; violating it
        # detectably inflates degrees, contract-tested.)
        e = e.where(F.col("src") != F.col("dst")).distinct()
    e, stats = _checkpoint(e)

    def peel(e: DataFrame) -> DataFrame:
        keep = (
            e.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .where(F.col("deg") >= k)
            .select("src")
        )
        return e.join(keep, "src", "left_semi").join(
            keep.select(F.col("src").alias("dst")), "dst", "left_semi"
        )

    def degrees(core: DataFrame) -> DataFrame:
        return (
            core.groupBy("src")
            .agg(F.count(F.lit(1)).alias("core_degree"))
            .select(F.col("src").alias("vertex"), "core_degree")
        )

    def distributed():
        core, rounds = _fixpoint(
            "kcore", e, peel, DataFrame.count, max_rounds, "max_rounds", prev=stats["rows"]
        )
        return degrees(core), rounds

    return _finish(
        "kcore", e, stats, lambda pdf: _kcore_kernel(k, pdf),
        lambda: degrees(e), distributed,
    )


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
    (the CC round budget), localCheckpoint-ed; the driver probe reads
    (vertex count, exact Σdist) and stops when it repeats. That is a
    fixpoint test because distances only fall and vertices are only
    added: an unchanged count means no new vertex, and an unchanged
    exact sum of non-increasing distances means none fell. Converges
    in ≤ (max shortest-path hop count) rounds; raises on
    non-convergence so a partial relaxation can never pass as the
    answer. Distances stay exact integers when weights are integers
    (Σdist is then summed over ``decimal(38,0)``; fractional weights
    probe an order-free checksum of (vertex, dist) instead, since a
    float sum can absorb a small fall)."""
    e = _edges(edges, src, dst, False, F.col(weight).alias("w"))
    e = e.localCheckpoint(eager=True)
    n_src = len({int(v) for v in sources})
    dist = e.sparkSession.createDataFrame(
        [(int(v), 0) for v in sources], "vertex long, dist long"
    ).localCheckpoint(eager=True)

    def relax(dist: DataFrame) -> DataFrame:
        return (
            dist.join(e, dist.vertex == e.src)
            .select(
                F.col("dst").alias("vertex"),
                (F.col("dist") + F.col("w")).alias("dist"),
            )
            .unionByName(dist)
            .groupBy("vertex")
            .agg(F.min("dist").alias("dist"))
        )

    if isinstance(e.schema["w"].dataType, T.IntegralType):
        moved = F.sum(F.col("dist").cast("decimal(38,0)"))
    else:
        moved = F.bit_xor(F.xxhash64("vertex", "dist"))
    # prev: the seed frame's probe under the exact sum (distinct seeds,
    # all at 0); the checksum never matches it, which costs at most
    # one extra round
    return _fixpoint(
        "bellman_ford", dist, relax, lambda d: _probe(d, F.count(F.lit(1)), moved),
        max_rounds, "max_rounds", prev=(n_src, 0 if n_src else None),
    )[0]
