"""Seeded input generators for the benchmark workloads.

Each ``write_*`` function draws its data from ``seed`` alone, writes the
files the engine reads, and returns an in-memory model of what it wrote
(the reference models in ``refmodels.py`` are computed from it). The
same seed always produces identical bytes: only ``random.Random`` is
used, and every writer fixes its formatting.

Pure Python; nothing here imports Spark.
"""

from __future__ import annotations

import datetime as dt
import itertools
import json
import os
import random
from dataclasses import dataclass, field

UTC = dt.timezone.utc

# ---------------------------------------------------------------------------
# hn_etl: raw HN JSON-array batches
# ---------------------------------------------------------------------------

HN_DAY0 = dt.datetime(2024, 3, 1, tzinfo=UTC)
HN_DAYS = 4
_HOSTS = ["example.com", "news.site.org", "blog.dev.io", "Docs.Python.org",
          "github.com", "arxiv.org", "lwn.net", "EXAMPLE.net"]
_TITLE_WORDS = ["rust", "spark", "café", "naïve", "db", "tokyo", "ml",
                "show", "hn", "ask", "release", "über", "graph", "query"]


@dataclass
class HnBatch:
    path: str
    extracted_at: dt.datetime
    records: list  # the JSON array as written: dicts and None entries


@dataclass
class HnInput:
    batches: list  # HnBatch, in landing order
    late: HnBatch
    n_items: int  # raw array entries over all batches, late included


def _hn_item(rng: random.Random, item_id: int, authors: list, day: int) -> dict:
    if rng.random() < 0.1:  # near-midnight on either side
        secs = rng.choice([rng.randrange(0, 120), rng.randrange(86280, 86400)])
    else:
        secs = rng.randrange(86400)
    t = int((HN_DAY0 + dt.timedelta(days=day)).timestamp()) + secs
    r = rng.random()
    kind = "story" if r < 0.8 else ("job" if r < 0.9 else "comment")
    rec = {
        "id": item_id,
        "type": kind,
        "by": None if rng.random() < 0.03 else rng.choice(authors),
        "time": t,
        "title": " ".join(rng.choice(_TITLE_WORDS) for _ in range(rng.randint(2, 6))),
    }
    u = rng.random()
    if u < 0.1:
        pass  # url missing
    elif u < 0.15:
        rec["url"] = ""
    elif u < 0.2:
        rec["url"] = None
    else:
        scheme = rng.choice(["https://", "http://", "HTTPS://", "Http://"])
        host = rng.choice(_HOSTS)
        rec["url"] = f"{scheme}{host}/{rng.choice(['', 'a', 'post/7', 'x?y=1'])}"
    if rng.random() < 0.9:
        rec["score"] = rng.randrange(0, 500)
    if rng.random() < 0.85:
        rec["descendants"] = rng.randrange(0, 300)
    k = rng.random()
    if k < 0.6:
        rec["kids"] = [rng.randrange(10**7) for _ in range(rng.randint(1, 5))]
    elif k < 0.8:
        rec["kids"] = []
    if rng.random() < 0.1:
        rec["text"] = "some text"
    return rec


def _write_hn_batch(directory: str, ts: dt.datetime, records: list) -> HnBatch:
    path = os.path.join(directory, f"hn_raw_{ts.strftime('%Y%m%d_%H%M%S')}.json")
    with open(path, "w", encoding="utf-8") as f:
        json.dump(records, f, ensure_ascii=False, separators=(",", ":"))
    return HnBatch(path, ts, records)


def write_hn(directory: str, seed: int, n_batches: int, batch_items: int,
             late_items: int) -> HnInput:
    """``n_batches`` raw batch files plus one late batch.

    Edge cases (FIXTURES.md §A1): null records, missing optional fields,
    in-file duplicate ids (keep-last by file position), about 30% ids
    re-sent from earlier batches, and mixed-case URL schemes. The second
    batch to land carries an OLDER extraction stamp than the first, so
    its re-sends must not update (the merge's freshness gate); the late
    batch is the newest and touches only the last day.
    """
    os.makedirs(directory, exist_ok=True)
    rng = random.Random(seed)
    authors = [f"user{i}" for i in range(300)]
    # extraction stamps in landing order; landing #1 is older than #0
    stamps = [HN_DAY0 + dt.timedelta(days=HN_DAYS, hours=2 * i) for i in range(n_batches)]
    if n_batches >= 2:
        stamps[1] = stamps[0] - dt.timedelta(minutes=30)
    sent: dict[int, dict] = {}
    next_id = 1_000_000 + rng.randrange(1000)

    def resend(rec: dict) -> dict:
        """The same item fetched again: counters moved, identity kept."""
        out = dict(rec)
        out["score"] = out.get("score", 0) + rng.randrange(1, 50)
        out["descendants"] = out.get("descendants", 0) + rng.randrange(0, 5)
        return out

    def batch_records(n: int, days: range) -> list:
        nonlocal next_id
        day0 = int(HN_DAY0.timestamp())
        pool = sorted(i for i, r in sent.items() if (r["time"] - day0) // 86400 in days)
        recs: list = []
        for _ in range(n):
            if rng.random() < 0.01:
                recs.append(None)
            elif pool and rng.random() < 0.3:
                recs.append(resend(sent[rng.choice(pool)]))
            else:
                recs.append(_hn_item(rng, next_id, authors, rng.choice(days)))
                next_id += rng.randint(1, 3)
        # in-file duplicates: a later copy of an earlier item
        for _ in range(max(1, n // 50)):
            src = rng.choice([r for r in recs[: len(recs) // 2] if r is not None])
            recs.insert(rng.randrange(len(recs) // 2, len(recs) + 1), resend(src))
        for r in recs:
            if r is not None:
                sent[r["id"]] = r
        return recs

    batches = [_write_hn_batch(directory, ts, batch_records(batch_items, range(HN_DAYS))) for ts in stamps]
    late_ts = max(stamps) + dt.timedelta(hours=6)
    late = _write_hn_batch(directory, late_ts, batch_records(late_items, range(HN_DAYS - 1, HN_DAYS)))
    n_items = sum(len(b.records) for b in batches) + len(late.records)
    return HnInput(batches, late, n_items)


# ---------------------------------------------------------------------------
# operators: Zipfian corpus with planted edit-chains
# ---------------------------------------------------------------------------

STOPWORDS = ["the", "and", "of", "to", "in", "is", "that", "with"]


@dataclass
class Corpus:
    path: str
    docs: dict  # doc_id -> text
    planted_dups: set = field(default_factory=set)  # ids that must go
    exact_copies: set = field(default_factory=set)  # byte-identical copies
    chain_roots: set = field(default_factory=set)
    low_quality: set = field(default_factory=set)
    chains: list = field(default_factory=list)  # [[id, id, ...], ...]


def _vocabulary(rng: random.Random, size: int) -> list:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set(STOPWORDS)
    out = list(STOPWORDS)
    while len(out) < size:
        w = "".join(rng.choice(letters) for _ in range(rng.randint(3, 9)))
        if w not in words:
            words.add(w)
            out.append(w)
    return out


def write_corpus(path: str, seed: int, n_docs: int, vocab: int = 4000,
                 zipf_s: float = 1.1) -> Corpus:
    """JSONL corpus (doc_id, text) of Zipfian word draws.

    The layout repeats every 20 slots, so only the words depend on the
    seed: slots 0 and 10 root an edit chain of 2, 3 or 4 members (each
    member one token substitution from the previous one), slot 5 is a
    byte-identical copy of an earlier doc, slot 15 is short numeric
    junk (low quality), and the rest are plain docs. Chain roots and
    originals always get the smaller id, so the planted duplicates are
    exactly the docs a min-id dedup must drop.
    """
    rng = random.Random(seed)
    words = _vocabulary(rng, vocab)
    weights = [1.0 / (r + 1) ** zipf_s for r in range(vocab)]
    cum = list(itertools.accumulate(weights))

    def draw(n: int) -> list:
        return rng.choices(words, cum_weights=cum, k=n)

    docs: dict[int, str] = {}
    c = Corpus(path, docs)
    next_id = 1
    for slot in itertools.count():
        if next_id > n_docs:
            break
        kind = slot % 20
        if kind in (0, 10) and next_id + 4 <= n_docs:
            toks = draw(rng.randint(50, 80))
            chain = []
            for _ in range(2 + len(c.chains) % 3):
                docs[next_id] = " ".join(toks)
                chain.append(next_id)
                next_id += 1
                toks = list(toks)
                toks[rng.randrange(len(toks))] = draw(1)[0]
            c.chains.append(chain)
            c.chain_roots.add(chain[0])
            c.planted_dups.update(chain[1:])
        elif kind == 5 and docs:
            src = rng.choice(sorted(i for i in docs if i not in c.low_quality))
            docs[next_id] = docs[src]
            c.exact_copies.add(next_id)
            c.planted_dups.add(next_id)
            next_id += 1
        elif kind == 15:
            docs[next_id] = " ".join(str(rng.randrange(100)) for _ in range(3)) + " !!"
            c.low_quality.add(next_id)
            next_id += 1
        else:
            docs[next_id] = " ".join(draw(rng.randint(20, 60)))
            next_id += 1
    with open(path, "w", encoding="utf-8") as f:
        for i, text in docs.items():
            f.write(json.dumps({"doc_id": i, "text": text}) + "\n")
    return c


# ---------------------------------------------------------------------------
# operators: power-law graph and clustered embeddings
# ---------------------------------------------------------------------------


@dataclass
class Graph:
    path: str
    edges: list  # [(src, dst), ...] with src < dst, distinct


def write_graph(path: str, seed: int, n_vertices: int, n_draws: int,
                exponent: float = 2.2) -> Graph:
    """JSONL edge list (src, dst) of a Chung-Lu power-law graph.

    Vertex ``i`` (ids from 1) is drawn as an endpoint with weight
    ``i ** (-1 / (exponent - 1))``, so degrees follow a power law with
    the given exponent. ``n_draws`` endpoint pairs are drawn; self-loops
    and repeats are dropped and each edge is written once, as
    ``src < dst``, in draw order.
    """
    rng = random.Random(seed)
    weights = [(i + 1) ** (-1.0 / (exponent - 1.0)) for i in range(n_vertices)]
    cum = list(itertools.accumulate(weights))
    ids = range(1, n_vertices + 1)
    seen: set = set()
    edges = []
    for _ in range(n_draws):
        a, b = rng.choices(ids, cum_weights=cum, k=2)
        e = (min(a, b), max(a, b))
        if a != b and e not in seen:
            seen.add(e)
            edges.append(e)
    with open(path, "w", encoding="utf-8") as f:
        for a, b in edges:
            f.write(f'{{"src":{a},"dst":{b}}}\n')
    return Graph(path, edges)


@dataclass
class Embeddings:
    path: str
    vectors: dict  # vec_id -> list of floats, as written
    cluster: dict  # vec_id -> index of the cluster it was drawn from


def write_embeddings(path: str, seed: int, n_vectors: int, dim: int,
                     n_clusters: int, spread: float = 0.35) -> Embeddings:
    """JSONL (vec_id, embedding) of Gaussian clusters.

    Cluster centres are standard-normal points; each vector is a centre
    plus N(0, ``spread``) noise per coordinate, rounded to 6 decimals so
    that the file and the in-memory model hold the same doubles.
    """
    rng = random.Random(seed)
    centres = [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_clusters)]
    vectors, cluster = {}, {}
    for vid in range(1, n_vectors + 1):
        c = rng.randrange(n_clusters)
        vectors[vid] = [round(x + rng.gauss(0.0, spread), 6) for x in centres[c]]
        cluster[vid] = c
    with open(path, "w", encoding="utf-8") as f:
        for vid, vec in vectors.items():
            f.write(json.dumps({"vec_id": vid, "embedding": vec}) + "\n")
    return Embeddings(path, vectors, cluster)
