"""Pure-Python reference models the benchmark checks outputs against.

Each model re-derives an expected output from the generator's own
in-memory model (``generators.py``), never from the engine. Nothing
here imports Spark, so the models are unit-tested on hand-sized cases.
"""

from __future__ import annotations

import datetime as dt
import math
from collections import Counter, defaultdict

# ---------------------------------------------------------------------------
# hn_etl
# ---------------------------------------------------------------------------


def hn_stage(records: list, extracted_at: dt.datetime) -> dict:
    """Typed staging rows of one raw batch, keyed by id: null records
    dropped, missing counters defaulted to 0, kids counted, and the
    last copy of an id in file order kept."""
    rows: dict[int, dict] = {}
    for rec in records:
        if rec is None:
            continue
        kids = rec.get("kids")
        rows[rec["id"]] = {
            "id": rec["id"],
            "type": rec.get("type"),
            "by": rec.get("by"),
            "time": rec["time"],
            "title": rec["title"],
            "url": rec.get("url"),
            "score": rec.get("score") or 0,
            "descendants": rec.get("descendants") or 0,
            "kids_count": len(kids) if kids is not None else 0,
            "text": rec.get("text"),
            "extracted_at": extracted_at,
        }
    return rows


def hn_merge(target: dict, batch: dict) -> tuple[int, int]:
    """Freshness-gated upsert of ``batch`` into ``target`` (in place):
    new ids insert, an id updates only when the batch row is strictly
    fresher. Returns (inserted, updated)."""
    inserted = updated = 0
    for key, row in batch.items():
        old = target.get(key)
        if old is None:
            target[key] = row
            inserted += 1
        elif row["extracted_at"] > old["extracted_at"]:
            target[key] = row
            updated += 1
    return inserted, updated


def domain_of(url) -> str:
    """Lower-case, strip http(s)://, keep the part before the first /."""
    if url is None or url == "":
        return "(no_domain)"
    return url.lower().replace("https://", "").replace("http://", "").split("/")[0]


def metric_date(epoch_s: int) -> dt.date:
    return dt.datetime.fromtimestamp(epoch_s, dt.timezone.utc).date()


def hn_marts(staging: dict, dates=None) -> dict:
    """The three marts over story rows, optionally restricted to
    ``dates``: ``daily`` maps date -> (stories, total_score,
    total_comments, avg_score, avg_comments); ``domains`` and ``users``
    map (date, key) -> stories."""
    daily: dict = defaultdict(lambda: [0, 0, 0])
    domains: Counter = Counter()
    users: Counter = Counter()
    for row in staging.values():
        if row["type"] != "story":
            continue
        d = metric_date(row["time"])
        if dates is not None and d not in dates:
            continue
        acc = daily[d]
        acc[0] += 1
        acc[1] += row["score"]
        acc[2] += row["descendants"]
        domains[(d, domain_of(row["url"]))] += 1
        users[(d, row["by"] if row["by"] is not None else "(unknown)")] += 1
    return {
        "daily": {d: (n, s, c, s / n, c / n) for d, (n, s, c) in daily.items()},
        "domains": dict(domains),
        "users": dict(users),
    }


# ---------------------------------------------------------------------------
# operators: corpus pair scores
# ---------------------------------------------------------------------------


def shingles(text: str, n: int) -> set:
    """Distinct word n-grams of the lower-cased, whitespace-split text."""
    toks = text.lower().split()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def ngram_counts(text: str, n: int) -> Counter:
    toks = text.lower().split()
    return Counter(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1))


def jaccard(a: set, b: set) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def containment(a: set, b: set) -> float:
    """|A ∩ B| / |A|: how much of ``a`` is contained in ``b``."""
    return len(a & b) / len(a)


def tf_cosine(a: Counter, b: Counter) -> float:
    dot = sum(v * b[k] for k, v in a.items() if k in b)
    na = sum(v * v for v in a.values())
    nb = sum(v * v for v in b.values())
    return dot / (math.sqrt(na) * math.sqrt(nb))


def score_matches(engine: float, exact: float) -> bool:
    """The engine rounds scores to 4 decimals; accept either rounding
    direction of the exact value."""
    return abs(engine - exact) <= 0.5e-4 + 1e-9


# ---------------------------------------------------------------------------
# graph operators (undirected edge lists)
# ---------------------------------------------------------------------------


def adjacency(edges) -> dict:
    """vertex -> set of neighbours, self-loops dropped."""
    adj: dict = defaultdict(set)
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    return dict(adj)


def components(edges) -> dict:
    """Union-find: vertex -> the smallest vertex id of its component."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def pagerank(adj: dict, n_iter: int, damping: float) -> dict:
    """Synchronous power iteration with uniform teleport, started at
    1/N: rank' = (1 - d) / N + d * sum(rank[u] / deg[u] for neighbours u)."""
    n = len(adj)
    base = 1.0 / n
    rank = dict.fromkeys(adj, base)
    for _ in range(n_iter):
        s = dict.fromkeys(adj, 0.0)
        for u, nbrs in adj.items():
            c = rank[u] / len(nbrs)
            for v in nbrs:
                s[v] += c
        rank = {v: (1.0 - damping) * base + damping * s[v] for v in adj}
    return rank


def kcore(adj: dict, k: int) -> dict:
    """Peel vertices of degree < k until none is left: surviving
    vertex -> its degree inside the core."""
    alive = {v: set(n) for v, n in adj.items()}
    low = [v for v, n in alive.items() if len(n) < k]
    while low:
        v = low.pop()
        if v not in alive:
            continue
        for u in alive.pop(v):
            nbrs = alive[u]
            nbrs.discard(v)
            if len(nbrs) == k - 1:
                low.append(u)
    return {v: len(n) for v, n in alive.items()}


def label_propagation(adj: dict, n_iter: int) -> dict:
    """Synchronous label propagation: each round every vertex takes the
    most frequent label among its neighbours, ties to the smallest."""
    label = {v: v for v in adj}
    for _ in range(n_iter):
        new = {}
        for v, nbrs in adj.items():
            counts = Counter(label[u] for u in nbrs)
            new[v] = min(counts, key=lambda lab: (-counts[lab], lab))
        label = new
    return label


# ---------------------------------------------------------------------------
# vector kernels
# ---------------------------------------------------------------------------


def cosine_topk(vectors: dict, query: list, k: int) -> list:
    """Ids of the ``k`` vectors most cosine-similar to ``query``,
    ordered by (descending cosine, ascending id)."""
    qn = math.sqrt(sum(x * x for x in query))
    scored = []
    for vid, v in vectors.items():
        dot = sum(a * b for a, b in zip(query, v))
        scored.append((-dot / (qn * math.sqrt(sum(x * x for x in v))), vid))
    return [vid for _, vid in sorted(scored)[:k]]
