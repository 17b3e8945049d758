"""Property-based differential tests (hypothesis): core operators vs
brute-force Python models on random inputs. Complements the
DuckDB-oracle suite — these hit edge shapes (empty overlaps, equal
timestamps, singleton groups) random SQL data rarely produces.

Examples are kept small and few: each example runs real Spark jobs.
"""

from __future__ import annotations
import pytest

import datetime as dt
import math
from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F
from reddit_hn_etl_spark.operators.dedup import dedup_keep_last
from reddit_hn_etl_spark.operators.merge import merge_upsert
from reddit_hn_etl_spark.operators.sessions import session_summary

SET = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

BASE = dt.datetime(2024, 1, 1)

# (key, freshness_minute, value) rows; small key/ts domains force
# collisions, equal-timestamp ties, and disjoint/overlapping key sets.
row = st.tuples(
    st.integers(0, 5), st.integers(0, 10), st.integers(-100, 100)
)
rows = st.lists(row, min_size=0, max_size=20)


def _df(spark, data):
    return spark.createDataFrame(
        [(k, BASE + dt.timedelta(minutes=m), v) for k, m, v in data],
        "k long, ts timestamp, v long",
    )


def _merge_model(target, source):
    """Reference semantics of sql/load/03_merge.sql: per key, source
    applies iff key absent or source strictly fresher."""
    # dedup source: freshest per key (ties broken by larger v to
    # mirror dedup_keep_last(order_by=[ts, v]))
    src = {}
    for k, m, v in source:
        if k not in src or (m, v) > (src[k][0], src[k][1]):
            src[k] = (m, v)
    tgt = {k: (m, v) for k, m, v in target}  # unique keys by construction
    out = dict(tgt)
    inserted = updated = 0
    for k, (m, v) in src.items():
        if k not in out:
            out[k] = (m, v)
            inserted += 1
        elif m > out[k][0]:
            out[k] = (m, v)
            updated += 1
    return out, inserted, updated


def _check_merge(spark, target, source):
    # make target keys unique (staging invariant: PK per key)
    tgt = list({k: (k, m, v) for k, m, v in target}.values())
    t_df, s_df = _df(spark, tgt), _df(spark, source)
    merged, metrics = merge_upsert(
        dedup_keep_last(t_df, ["k"], ["ts", "v"]),
        dedup_keep_last(s_df, ["k"], ["ts", "v"]),
        keys=["k"],
        freshness_col="ts",
    )
    got = {r.k: ((r.ts - BASE).seconds // 60, r.v) for r in merged.collect()}
    want, ins, upd = _merge_model(tgt, source)
    assert got == want
    assert (metrics.inserted, metrics.updated, metrics.kept) == (ins, upd, len(want) - ins - upd)


@given(target=rows, source=rows)
@SET
@pytest.mark.exhaustive
def test_merge_matches_model(spark, target, source):
    _check_merge(spark, target, source)


# Default-run slice of the battery above: empty sides, an equal-timestamp
# tie (no update), a fresher and a staler copy, in-source duplicates.
MERGE_SMOKE = [
    ([], []),
    ([(1, 5, 10), (2, 5, 20)], []),
    ([], [(1, 5, 10), (1, 7, 11), (3, 0, -1)]),
    ([(1, 5, 10), (2, 5, 20), (3, 5, 30)], [(1, 5, 99), (2, 6, 21), (3, 4, 31), (4, 0, 40), (4, 0, 41)]),
]


@pytest.mark.parametrize("target,source", MERGE_SMOKE)
def test_merge_matches_model_smoke(spark, target, source):
    _check_merge(spark, target, source)


@given(data=rows)
@SET
def test_dedup_keep_last_matches_model(spark, data):
    out = dedup_keep_last(_df(spark, data), ["k"], ["ts", "v"]).collect()
    got = {r.k: ((r.ts - BASE).seconds // 60, r.v) for r in out}
    want = {}
    for k, m, v in data:
        if k not in want or (m, v) > want[k]:
            want[k] = (m, v)
    assert got == want


def _session_model(data, gap_minutes):
    """Brute-force sessionization (sorted scan per key)."""
    per_key = {}
    for k, m, v in data:
        per_key.setdefault(k, []).append((m, v))
    out = {}
    for k, evs in per_key.items():
        evs.sort()  # (minute, v) — v acts as the deterministic tiebreak
        sess_no = 0
        prev = None
        for m, v in evs:
            if prev is None or (m - prev) * 60 > gap_minutes * 60:
                sess_no += 1
                out[(k, sess_no)] = [m, m, 0]
            out[(k, sess_no)][1] = m
            out[(k, sess_no)][2] += 1
            prev = m
    return {
        key: (start, end, n) for key, (start, end, n) in out.items()
    }


@given(data=rows, gap=st.integers(1, 4))
@SET
def test_sessionize_matches_model(spark, data, gap):
    out = session_summary(
        _df(spark, data), key_cols=["k"], ts_col="ts",
        gap_seconds=gap * 60, order_tiebreak=["v"],
    ).collect()
    got = {
        (r.k, r.session_no): (
            (r.session_start - BASE).seconds // 60,
            (r.session_end - BASE).seconds // 60,
            r.n_events,
        )
        for r in out
    }
    assert got == _session_model(data, gap)


def _asof_model(left, right):
    """Brute force: for each left row the right row with greatest
    ts <= left ts (ties on ts resolved by the dedup: max v wins)."""
    # dedup right per (k, ts): keep max v (mirrors dedup_keep_last order)
    r = {}
    for k, m, v in right:
        if (k, m) not in r or v > r[(k, m)]:
            r[(k, m)] = v
    out = []
    for k, m, v in left:
        cands = [(rm, rv) for (rk, rm), rv in r.items() if rk == k and rm <= m]
        match = max(cands) if cands else None
        out.append((k, m, v, match[1] if match else None,
                    match[0] if match else None))
    return sorted(out)


@given(left=rows, right=rows)
@SET
@pytest.mark.exhaustive
def test_asof_join_matches_model(spark, left, right):
    from reddit_hn_etl_spark.operators.dedup import dedup_keep_last
    from reddit_hn_etl_spark.operators.joins import asof_join

    l_df = _df(spark, left)
    r_df = dedup_keep_last(
        _df(spark, right), keys=["k", "ts"], order_by=["v"]
    ).select("k", F.col("ts").alias("rts"), F.col("v").alias("rv"))
    out = asof_join(
        l_df, r_df, on=["k"], left_ts="ts", right_ts="rts", value_cols=["rv"]
    ).collect()
    got = sorted(
        (
            r.k,
            (r.ts - BASE).seconds // 60,
            r.v,
            r.rv,
            None if r.matched_ts is None else (r.matched_ts - BASE).seconds // 60,
        )
        for r in out
    )
    assert got == _asof_model(left, right)


def _pit_model(left, right, tol_min):
    """Brute force point-in-time: per left row the right row with
    greatest ts STRICTLY < left ts; nulled if staler than tol_min."""
    r = {}
    for k, m, v in right:
        if (k, m) not in r or v > r[(k, m)]:
            r[(k, m)] = v
    out = []
    for k, m, v in left:
        cands = [(rm, rv) for (rk, rm), rv in r.items() if rk == k and rm < m]
        match = max(cands) if cands else None
        if match is not None and tol_min is not None and m - match[0] > tol_min:
            match = None
        out.append((k, m, v, match[1] if match else None,
                    match[0] if match else None))
    return sorted(out)


@given(left=rows, right=rows, tol=st.sampled_from([None, 0, 2, 5]))
@SET
@pytest.mark.exhaustive
def test_pit_join_matches_model(spark, left, right, tol):
    """Strict (<) tie semantics and the freshness tolerance: a
    same-instant right row must NOT match (lookahead leakage), and a
    match older than the tolerance nulls the features but keeps the
    left row."""
    from reddit_hn_etl_spark.operators.joins import pit_join

    l_df = _df(spark, left)
    r_df = dedup_keep_last(
        _df(spark, right), keys=["k", "ts"], order_by=["v"]
    ).select("k", F.col("ts").alias("rts"), F.col("v").alias("rv"))
    out = pit_join(
        l_df, r_df, on=["k"], left_ts="ts", right_ts="rts",
        value_cols=["rv"],
        tolerance_sec=None if tol is None else tol * 60,
    ).collect()
    got = sorted(
        (
            r.k,
            (r.ts - BASE).seconds // 60,
            r.v,
            r.rv,
            None if r.matched_ts is None else (r.matched_ts - BASE).seconds // 60,
        )
        for r in out
    )
    assert got == _pit_model(left, right, tol)


@given(
    vals=st.lists(
        st.one_of(st.integers(-1000, 1000), st.none()),
        min_size=0, max_size=40,
    ),
    parts=st.integers(1, 7),
)
@SET
@pytest.mark.exhaustive
def test_prefix_sum_matches_model(spark, vals, parts):
    """Hierarchical prefix sum == brute-force running sum for any
    value signs, NULLs (add 0), and partition counts — including more
    partitions than rows (empty range buckets)."""
    from reddit_hn_etl_spark.operators.prefix import prefix_sum

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "k long, v long"
    )
    out = prefix_sum(
        df, order_col="k", value_col="v", num_partitions=parts
    ).collect()
    acc, model = 0, {}
    for i, v in enumerate(vals):
        acc += v or 0
        model[i] = v, acc
    assert {r.k: (r.v, r.running) for r in out} == model


def test_prefix_sum_plan_has_no_full_data_single_partition(spark):
    """The full-data exchange must be rangepartitioning; the only
    SinglePartition window sits above the per-partition totals agg."""
    from reddit_hn_etl_spark.operators.prefix import prefix_sum

    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    plan = (
        prefix_sum(df, "k", "v", num_partitions=4, checkpoint=False)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "rangepartitioning" in plan, plan
    main, _, offsets_branch = plan.partition("_pfx_total")
    assert "SinglePartition" not in main, main
    # The offsets branch MAY single-partition — it holds one row per
    # range partition, not per data row.
    assert "hashpartitioning(_pfx_pid" in offsets_branch, offsets_branch


@given(
    vals=st.lists(st.integers(0, 9), min_size=0, max_size=30),
    n=st.integers(1, 6),
    parts=st.integers(1, 5),
    desc=st.booleans(),
)
@SET
@pytest.mark.exhaustive
def test_global_ntile_matches_spark_window(spark, vals, n, parts, desc):
    """Hierarchical global_ntile == Spark's NTILE(n) OVER (ORDER BY …)
    under a total order, for N<n, N%n!=0, duplicates-broken-by-key,
    and either direction."""
    from pyspark.sql import Window
    from reddit_hn_etl_spark.operators.prefix import global_ntile

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "k long, v long"
    )
    got = global_ntile(
        df, n, ["v", "k"], descending=[desc, False],
        out_col="b", num_partitions=parts,
    ).collect()
    order = [F.col("v").desc() if desc else F.col("v").asc(), F.col("k")]
    want = df.select(
        "k", F.ntile(n).over(Window.orderBy(*order)).alias("b")
    ).collect()
    assert {r.k: r.b for r in got} == {r.k: r.b for r in want}
    # The literal-count fast path must agree with the counted path.
    lit = global_ntile(
        df, n, ["v", "k"], descending=[desc, False],
        out_col="b", num_partitions=parts, total_rows=len(vals),
    ).collect()
    assert {r.k: r.b for r in lit} == {r.k: r.b for r in want}


@given(
    left=st.lists(
        st.tuples(st.integers(0, 3), st.integers(-50, 50)),
        min_size=0, max_size=20,
    ),
    right=st.lists(
        st.tuples(st.integers(0, 3), st.integers(-50, 50)),
        min_size=0, max_size=8,
    ),
    buckets=st.integers(1, 5),
    how=st.sampled_from(["inner", "left"]),
)
@SET
@pytest.mark.exhaustive
def test_salted_join_matches_plain(spark, left, right, buckets, how):
    """salted_join must be invisible in the result for ANY bucket
    count / join type — including empty sides, duplicate keys on both
    sides (cartesian sub-blocks), and unmatched left rows."""
    from reddit_hn_etl_spark.operators.joins import salted_join

    ldf = spark.createDataFrame(
        [(k, v, i) for i, (k, v) in enumerate(left)], "k long, lv long, rid long"
    )
    rdf = spark.createDataFrame(right, "k long, rv long")
    plain = sorted(map(tuple, ldf.join(rdf, "k", how).collect()))
    salted = sorted(
        map(tuple, salted_join(ldf, rdf, "k", buckets, how=how).collect())
    )
    assert salted == plain


# --- repetition features vs a Python model -------------------------------

# Tiny alphabet forces heavy gram collisions; whitespace runs and
# empty docs hit the tokenizer edge cases.
doc_text = st.lists(
    st.sampled_from(["a", "b", "ab", "ba"]), min_size=0, max_size=12
).map(" ".join)
docs_strategy = st.lists(doc_text, min_size=1, max_size=8)


def _repetition_model(text):
    toks = [t for t in text.strip().lower().split() if t]
    if not toks:
        return None
    bigrams = [f"{a} {b}" for a, b in zip(toks, toks[1:])]

    def top_frac(grams):
        if not grams:
            return 0.0
        top = max(grams.count(g) for g in set(grams))
        return round(top / len(grams), 4)

    return {
        "n_tokens": len(toks),
        "top_unigram_frac": top_frac(toks),
        "top_bigram_frac": top_frac(bigrams),
        "distinct_ratio": round(len(set(toks)) / len(toks), 4),
    }


@given(docs=docs_strategy)
@SET
def test_repetition_features_match_model(spark, docs):
    from reddit_hn_etl_spark.functions.text import repetition_features

    df = spark.createDataFrame(
        list(enumerate(docs)), "doc_id long, text string"
    )
    got = {
        r.doc_id: {
            "n_tokens": r.n_tokens,
            "top_unigram_frac": r.top_unigram_frac,
            "top_bigram_frac": r.top_bigram_frac,
            "distinct_ratio": r.distinct_ratio,
        }
        for r in repetition_features(df, "doc_id", "text").collect()
    }
    want = {
        i: m
        for i, m in ((i, _repetition_model(t)) for i, t in enumerate(docs))
        if m is not None  # token-less docs yield no grams → no row
    }
    assert got == want


# --- connected components vs union-find ----------------------------------

edges_strategy = st.lists(
    st.tuples(st.integers(0, 14), st.integers(0, 14)),
    min_size=0, max_size=25,
)


def _uf_components(pairs):
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # path-compress to final roots, then map every vertex to the MIN
    # member of its component (the operator's label contract)
    roots: dict[int, list[int]] = {}
    for v in list(parent):
        roots.setdefault(find(v), []).append(v)
    out = {}
    for members in roots.values():
        lo = min(members)
        for v in members:
            out[v] = lo
    return out


@given(pairs=edges_strategy)
@SET
@pytest.mark.exhaustive
def test_connected_components_match_union_find(spark, graph_paths, pairs):
    from reddit_hn_etl_spark.operators.graph import connected_components

    df = spark.createDataFrame(
        pairs or [(0, 0)], "doc_a long, doc_b long"
    )
    want = _uf_components(pairs or [(0, 0)])
    for _ in graph_paths():
        got = {
            r.vertex: r.component for r in connected_components(df).collect()
        }
        assert got == want


# --- jaccard_pairs vs brute force ----------------------------------------

jdocs_strategy = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=8
    ).map(" ".join),
    min_size=2, max_size=6,
)


def _brute_jaccard(docs, n=2, threshold=0.2):
    def shingles(text):
        toks = [t for t in text.strip().lower().split() if t]
        return {
            " ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)
        }

    out = {}
    ss = [shingles(t) for t in docs]
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            if not ss[i] or not ss[j]:
                continue
            inter = len(ss[i] & ss[j])
            if inter == 0:
                continue
            jac = inter / len(ss[i] | ss[j])
            if jac >= threshold:
                out[(i, j)] = round(jac, 4)
    return out


@given(docs=jdocs_strategy)
@SET
def test_jaccard_pairs_match_brute_force(spark, docs):
    from reddit_hn_etl_spark.operators.dedup import (
        jaccard_pairs,
        jaccard_pairs_cross,
        jaccard_pairs_prefix,
    )

    df = spark.createDataFrame(
        list(enumerate(docs)), "doc_id long, text string"
    )
    want = _brute_jaccard(docs)
    for op in (jaccard_pairs, jaccard_pairs_prefix):
        got = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in op(df, "doc_id", "text", n=2, threshold=0.2).collect()
        }
        assert got == want, op.__name__
    # cross pairs: even ids on side A, odd ids on side B
    even = df.where(df.doc_id % 2 == 0)
    odd = df.where(df.doc_id % 2 == 1)
    got = {
        (min(r.id_a, r.id_b), max(r.id_a, r.id_b)): r.jaccard
        for r in jaccard_pairs_cross(even, odd, "doc_id", "text", n=2,
                                     threshold=0.2).collect()
    }
    assert got == {p: j for p, j in want.items() if (p[0] + p[1]) % 2}


def _brute_triangles(pairs):
    und = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    verts = sorted({v for e in und for v in e})
    adj = {v: set() for v in verts}
    for u, v in und:
        adj[u].add(v)
        adj[v].add(u)
    tri = {v: 0 for v in verts}
    for i, a in enumerate(verts):
        for b in (x for x in verts[i + 1:] if x in adj[a]):
            for c in (x for x in verts if x > b and x in adj[a] and x in adj[b]):
                tri[a] += 1
                tri[b] += 1
                tri[c] += 1
    out = {}
    for v in verts:
        d = len(adj[v])
        clust = round(2 * tri[v] / (d * (d - 1)), 4) if d > 1 else 0.0
        out[v] = (d, tri[v], clust)
    return out


@given(pairs=edges_strategy)
@SET
@pytest.mark.exhaustive
def test_triangle_stats_match_bruteforce(spark, pairs):
    from reddit_hn_etl_spark.operators.graph import triangle_stats

    df = spark.createDataFrame(pairs or [(0, 1)], "doc_a long, doc_b long")
    got = {
        r.vertex: (r.degree, r.triangles, r.clustering)
        for r in triangle_stats(df).collect()
    }
    assert got == _brute_triangles(pairs or [(0, 1)])


def _brute_containment(docs, threshold):
    grams = {
        i: set(t.lower().split()) for i, t in docs
    }
    out = {}
    for a, sa in grams.items():
        for b, sb in grams.items():
            if a == b or not sa:
                continue
            c = len(sa & sb) / len(sa)
            if c >= threshold:
                out[(a, b)] = round(c, 4)
    return out


texts_strategy = st.lists(
    st.tuples(
        st.integers(0, 9),
        st.lists(
            st.sampled_from(["ant", "bee", "cat", "dog", "elk", "fox"]),
            min_size=1, max_size=8,
        ).map(" ".join),
    ),
    min_size=1, max_size=8, unique_by=lambda t: t[0],
)


@given(docs=texts_strategy, threshold=st.sampled_from([0.3, 0.5, 1.0]))
@SET
def test_containment_matches_bruteforce(spark, docs, threshold):
    from reddit_hn_etl_spark.operators.dedup import containment_pairs
    from reddit_hn_etl_spark.operators.similarity import tf_cosine_pairs

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): r.containment
        for r in containment_pairs(
            df, "doc_id", "text", n=1, threshold=threshold
        ).collect()
    }
    assert got == _brute_containment(docs, threshold)
    # the same unigram bags as tf vectors: Counter dot / (sqrt·sqrt)
    got = {
        (r.doc_a, r.doc_b): r.cosine_tf
        for r in tf_cosine_pairs(
            df, "doc_id", "text", n=1, threshold=threshold
        ).collect()
    }
    tf = {i: Counter(t.lower().split()) for i, t in docs}
    want = {}
    for a in tf:
        for b in tf:
            dot = sum(tf[a][g] * tf[b][g] for g in tf[a])
            if a >= b or not dot:
                continue
            sa = sum(v * v for v in tf[a].values())
            sb = sum(v * v for v in tf[b].values())
            cos = dot / (math.sqrt(sa) * math.sqrt(sb))
            if cos >= threshold:
                want[(a, b)] = round(cos, 4)
    assert got == want


# --- duplicate_spans vs brute force --------------------------------

# Tiny vocab + short docs force overlapping/adjacent/cross-doc span
# shapes random real text never produces.
_span_doc = st.lists(
    st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=12
).map(" ".join)
_span_corpus = st.lists(_span_doc, min_size=1, max_size=5)


def _spans_model(texts, k=3):
    grams = {}  # gram -> set(doc)
    pos = []  # (doc, p, gram)
    for d, t in enumerate(texts):
        w = t.split()
        for p in range(len(w) - k + 1):
            g = " ".join(w[p : p + k])
            grams.setdefault(g, set()).add(d)
            pos.append((d, p, g))
    dup = {g for g, docs in grams.items() if len(docs) >= 2}
    hits = sorted({(d, p) for d, p, g in pos if g in dup})
    out = set()
    cur = None
    for d, p in hits:
        if cur and cur[0] == d and p == cur[2] + 1:
            cur = (d, cur[1], p)
        else:
            if cur:
                out.add((cur[0], cur[1], cur[2] + k - 1, cur[2] + k - cur[1]))
            cur = (d, p, p)
    if cur:
        out.add((cur[0], cur[1], cur[2] + k - 1, cur[2] + k - cur[1]))
    return out


@given(texts=_span_corpus)
@SET
def test_duplicate_spans_matches_bruteforce(spark, texts):
    from reddit_hn_etl_spark.operators.dedup import duplicate_spans

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in duplicate_spans(df, "doc_id", "text", k=3).collect()
    }
    assert got == _spans_model(texts, k=3)


# --- sequence_pattern_matches vs brute force -----------------------

_seq_events = st.lists(
    st.tuples(
        st.integers(0, 2),  # user
        st.integers(0, 8),  # minute
        st.sampled_from(["A", "B", "C", "x"]),
    ),
    min_size=0,
    max_size=16,
)


def _seq_model(events, max_span_min):
    out = set()
    by_user: dict = {}
    for i, (u, m, t) in enumerate(events):
        by_user.setdefault(u, []).append((m, i, t))
    for u, evs in by_user.items():
        evs.sort()
        for ci, (cm, cid, ct) in enumerate(evs):
            if ct != "C":
                continue
            bs = [e for e in evs[:ci] if e[2] == "B"]
            if not bs:
                continue
            bm, bid, _ = bs[-1]
            b_idx = evs.index((bm, bid, "B"))
            as_ = [e for e in evs[:b_idx] if e[2] == "A"]
            if not as_:
                continue
            am, aid, _ = as_[-1]
            if (cm - am) * 60_000_000 <= max_span_min * 60_000_000:
                out.add((u, am, bm, cm))
    return out


@given(events=_seq_events)
@SET
def test_sequence_pattern_matches_bruteforce(spark, events):
    from reddit_hn_etl_spark.operators.scd import sequence_pattern_matches

    rows = [
        (i, u, BASE + dt.timedelta(minutes=m), t)
        for i, (u, m, t) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    got = {
        (
            r.user_id,
            (r.first_ts - BASE).total_seconds() / 60,
            (r.second_ts - BASE).total_seconds() / 60,
            (r.third_ts - BASE).total_seconds() / 60,
        )
        for r in sequence_pattern_matches(
            df,
            key_col="user_id",
            ts_col="ts",
            type_col="event_type",
            first="A",
            second="B",
            third="C",
            max_span_micros=5 * 60_000_000,
            tiebreak_col="event_id",
        ).collect()
    }
    assert got == _seq_model(events, 5)


edge = st.tuples(st.integers(0, 9), st.integers(0, 9))


@given(pairs=st.lists(edge, min_size=1, max_size=15))
@SET
@pytest.mark.exhaustive
def test_pagerank_matches_power_iteration(spark, graph_paths, pairs):
    """Undirected PageRank vs a brute-force power iteration with the
    identical update rule; total mass exactly 1 on every random
    graph (self-loops excluded like the operator's callers do)."""
    from reddit_hn_etl_spark.operators.graph import pagerank

    pairs = [(a, b) for a, b in pairs if a != b]
    if not pairs:
        return
    edges = spark.createDataFrame(pairs, "src long, dst long")
    sym = set()
    for a, b in pairs:
        sym.add((a, b))
        sym.add((b, a))
    verts = sorted({a for a, _ in sym})
    deg = {v: sum(1 for a, _ in sym if a == v) for v in verts}
    n = len(verts)
    r = {v: 1.0 / n for v in verts}
    for _ in range(3):
        s = {v: 0.0 for v in verts}
        for a, b in sorted(sym):
            s[b] += r[a] / deg[a]
        r = {v: 0.125 / n + 0.875 * s[v] for v in verts}
    for _ in graph_paths():
        got = {
            r["vertex"]: r["pagerank"]
            for r in pagerank(edges, n_iter=3, damping=0.875).collect()
        }
        assert set(got) == set(verts)
        assert abs(sum(got.values()) - 1.0) < 1e-9
        for v in verts:
            assert abs(got[v] - r[v]) < 1e-9


@given(
    data=st.lists(
        st.tuples(st.integers(0, 5), st.one_of(st.none(), st.integers(-5, 5))),
        min_size=0,
        max_size=15,
    )
)
@SET
def test_constraint_report_matches_hand_count(spark, data):
    """CHECK semantics on random frames with NULLs: a NULL rule
    result never counts as a violation; counts match a Python model
    exactly."""
    from reddit_hn_etl_spark.operators.checks import constraint_report

    df = spark.createDataFrame(data, "k long, v long") if data else (
        spark.createDataFrame([], "k long, v long")
    )
    rep = {
        r["constraint"]: (r["n_rows"], r["n_violations"], r["passed"])
        for r in constraint_report(
            df,
            {
                "v_nonneg": F.col("v") >= 0,       # NULL v -> passes
                "k_small": F.col("k") < 4,
                "v_not_null": F.col("v").isNotNull(),
            },
        ).collect()
    }
    n = len(data)
    v_nonneg = sum(1 for _, v in data if v is not None and v < 0)
    k_small = sum(1 for k, _ in data if k >= 4)
    v_null = sum(1 for _, v in data if v is None)
    assert rep["v_nonneg"] == (n, v_nonneg, v_nonneg == 0)
    assert rep["k_small"] == (n, k_small, k_small == 0)
    assert rep["v_not_null"] == (n, v_null, v_null == 0)


@given(
    vecs=st.lists(
        st.tuples(
            st.integers(0, 3),
            st.lists(
                st.floats(
                    min_value=-4.0, max_value=4.0,
                    allow_nan=False, allow_infinity=False, width=32,
                ),
                min_size=2, max_size=2,
            ),
        ),
        min_size=1, max_size=12,
    ),
    parts=st.integers(1, 5),
)
@SET
def test_cluster_means_quantized_partitioning_invariant(spark, vecs, parts):
    """The oracle property that makes the Lloyd update differential-
    testable: floored-grid int sums equal a Python model EXACTLY,
    under any repartitioning (order-free integer arithmetic)."""
    import math

    from reddit_hn_etl_spark.operators.kmeans import cluster_means_quantized

    df = spark.createDataFrame(
        vecs, "cluster_id int, embedding array<float>"
    ).repartition(parts)
    got = {
        (r["cluster_id"], r["pos"]): (r["n_members"], r["mean_q"])
        for r in cluster_means_quantized(df, scale=1_000_000).collect()
    }
    model: dict = {}
    for cid, v in vecs:
        # float32 storage: quantize the STORED value, like the engine
        import struct

        for pos, x in enumerate(v):
            x32 = struct.unpack("f", struct.pack("f", x))[0]
            q = math.floor(x32 * 1_000_000.0)
            n, ssum = model.get((cid, pos), (0, 0))
            model[(cid, pos)] = (n + 1, ssum + q)
    assert set(got) == set(model)
    for key, (n, ssum) in model.items():
        gn, gmean = got[key]
        assert gn == n
        assert gmean == (float(ssum) / 1_000_000.0) / n


# --- skyline_2d vs brute-force dominance ---------------------------------
