"""Property-based differential tests, second half (suite chunk F2 —
split from test_properties.py in r11 when chunk F reached 5:32 solo
on a degraded box; the hypothesis battery does NOT self-balance like
the registry-parity chunks, so the split is by file). Same
discipline: operators vs brute-force Python models on random inputs,
few small examples (each runs real Spark jobs)."""

from __future__ import annotations
import pytest

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F  # noqa: F401

SET = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


sky_strategy = st.lists(
    st.tuples(
        st.sampled_from(["g1", "g2"]),
        st.integers(min_value=0, max_value=6),   # min_col (cost)
        st.integers(min_value=0, max_value=6),   # max_col (benefit)
    ),
    min_size=1,
    max_size=24,
)


def _brute_skyline(rows):
    keep = []
    for i, (g, c, b) in enumerate(rows):
        dominated = any(
            g2 == g and c2 <= c and b2 >= b and (c2 < c or b2 > b)
            for j, (g2, c2, b2) in enumerate(rows)
            if j != i
        )
        if not dominated:
            keep.append((g, c, b))
    return sorted(keep)


@given(rows=sky_strategy)
@SET
def test_skyline_matches_bruteforce(spark, rows):
    from reddit_hn_etl_spark.operators.relational import skyline_2d

    df = spark.createDataFrame(rows, "g string, cost long, benefit long")
    got = sorted(
        (r.g, r.cost, r.benefit)
        for r in skyline_2d(
            df, group_cols=["g"], min_col="cost", max_col="benefit"
        ).collect()
    )
    assert got == _brute_skyline(rows)


# --- cooccurrence_pairs vs brute-force counting --------------------------

basket_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),       # basket
        st.sampled_from(["w", "x", "y", "z"]),       # item
    ),
    min_size=0,
    max_size=30,
)


@given(rows=basket_strategy)
@SET
@pytest.mark.exhaustive
def test_cooccurrence_matches_bruteforce(spark, rows):
    from reddit_hn_etl_spark.operators.relational import cooccurrence_pairs

    df = spark.createDataFrame(
        rows or [(0, "w")], "basket long, item string"
    )
    out = {
        (r.item_a, r.item_b): (
            r.pair_baskets, r.baskets_a, r.baskets_b, r.n_baskets
        )
        for r in cooccurrence_pairs(
            df, basket_col="basket", item_col="item"
        ).collect()
    }

    inc = set(rows or [(0, "w")])
    baskets = {}
    for b, i in inc:
        baskets.setdefault(b, set()).add(i)
    item_cnt = {}
    for b, items in baskets.items():
        for i in items:
            item_cnt[i] = item_cnt.get(i, 0) + 1
    want = {}
    for b, items in baskets.items():
        s = sorted(items)
        for i in range(len(s)):
            for j in range(i + 1, len(s)):
                k = (s[i], s[j])
                want[k] = want.get(k, 0) + 1
    expected = {
        k: (v, item_cnt[k[0]], item_cnt[k[1]], len(baskets))
        for k, v in want.items()
    }
    assert out == expected


# --- bfs_distances vs brute-force BFS ------------------------------------

bfs_strategy = st.tuples(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=0,
        max_size=20,
    ),
    st.sets(st.integers(min_value=0, max_value=9), min_size=1, max_size=3),
    st.integers(min_value=0, max_value=3),
)


def _brute_bfs(edges, seeds, max_hops):
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    dist = {s: 0 for s in seeds}
    frontier = set(seeds)
    for h in range(1, max_hops + 1):
        nxt = set()
        for v in frontier:
            for u in adj.get(v, ()):
                if u not in dist:
                    nxt.add(u)
        for u in nxt:
            dist[u] = h
        frontier = nxt
    return dist


@given(data=bfs_strategy)
@SET
@pytest.mark.exhaustive
def test_bfs_distances_match_bruteforce(spark, data):
    from reddit_hn_etl_spark.operators.graph import bfs_distances

    edges, seeds, max_hops = data
    edf = spark.createDataFrame(
        edges or [(0, 0)], "src long, dst long"
    )
    sdf = spark.createDataFrame([(s,) for s in seeds], "v long")
    got = {
        r.vertex: r.dist
        for r in bfs_distances(edf, sdf, max_hops=max_hops).collect()
    }
    assert got == _brute_bfs(edges or [(0, 0)], seeds, max_hops)


def test_builtin_regr_matches_moment_closed_form(spark):
    """Spark's regr_slope/regr_intercept/regr_r2 vs the five-moment
    closed form used by the brand_price_regression oracle — the
    built-ins are demonstrated here, the query layer keeps the
    exact-integer-moment formulation for cross-engine bit stability.
    """
    rows = [(1.0, 2.0), (2.0, 2.5), (3.0, 5.0), (4.0, 4.5), (5.0, 7.0)]
    df = spark.createDataFrame(rows, "x double, y double")
    got = df.select(
        F.regr_slope("y", "x").alias("slope"),
        F.regr_intercept("y", "x").alias("intercept"),
        F.regr_r2("y", "x").alias("r2"),
    ).collect()[0]
    n = len(rows)
    sx = sum(x for x, _ in rows)
    sy = sum(y for _, y in rows)
    sxy = sum(x * y for x, y in rows)
    sxx = sum(x * x for x, _ in rows)
    syy = sum(y * y for _, y in rows)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    r2 = ((n * sxy - sx * sy) ** 2) / (
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    assert abs(got.slope - slope) < 1e-9
    assert abs(got.intercept - intercept) < 1e-9
    assert abs(got.r2 - r2) < 1e-9


# --- jaro_winkler_py vs DuckDB's C++ implementation ----------------------

jw_text = st.text(
    alphabet=st.sampled_from("abcXY#01 "), min_size=0, max_size=12
)


@given(a=jw_text, b=jw_text)
@settings(max_examples=200, deadline=None)
def test_jaro_winkler_matches_duckdb(a, b):
    import duckdb

    from reddit_hn_etl_spark.functions.text import jaro_winkler_py

    want = duckdb.execute(
        "SELECT jaro_winkler_similarity(?, ?)", [a, b]
    ).fetchone()[0]
    assert abs(jaro_winkler_py(a, b) - want) < 1e-9


# --- cusum_per_key vs brute-force fold -----------------------------------

cusum_strategy = st.lists(
    st.tuples(
        st.sampled_from(["k1", "k2"]),
        st.integers(min_value=0, max_value=50),     # order
        st.integers(min_value=-40, max_value=40),   # value
    ),
    min_size=1,
    max_size=20,
    unique_by=lambda r: (r[0], r[1]),
)


@given(rows=cusum_strategy, target=st.integers(min_value=-5, max_value=5))
@SET
def test_cusum_matches_bruteforce(spark, rows, target):
    from reddit_hn_etl_spark.operators.sequential import cusum_per_key

    df = spark.createDataFrame(
        [(k, o, float(v), float(target)) for k, o, v in rows],
        "k string, o long, v double, tgt double",
    )
    out = cusum_per_key(df, "k", ("o",), "v", "tgt")
    got = {(r.k, r.o): r.cusum for r in out.collect()}

    want = {}
    for key in {k for k, _, _ in rows}:
        acc = 0.0
        for _, o, v in sorted(
            (r for r in rows if r[0] == key), key=lambda r: r[1]
        ):
            acc = max(0.0, acc + (float(v) - float(target)))
            want[(key, o)] = acc
    assert got == want


# --- label_propagation vs brute-force synchronous LPA --------------------

lpa_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=8),
        st.integers(min_value=0, max_value=8),
    ),
    min_size=1,
    max_size=16,
)


def _brute_lpa(edges, n_iter):
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    labels = {v: v for v in adj}
    for _ in range(n_iter):
        nxt = {}
        for v in adj:
            counts = {}
            for u in adj[v]:
                counts[labels[u]] = counts.get(labels[u], 0) + 1
            nxt[v] = min(
                counts, key=lambda l: (-counts[l], l)
            )
        labels = nxt
    return labels


@given(edges=lpa_strategy, n_iter=st.integers(min_value=1, max_value=3))
@SET
@pytest.mark.exhaustive
def test_label_propagation_matches_bruteforce(spark, graph_paths, edges, n_iter):
    from reddit_hn_etl_spark.operators.graph import label_propagation

    df = spark.createDataFrame(edges, "src long, dst long")
    want = _brute_lpa(edges, n_iter)
    for _ in graph_paths():
        got = {
            r.vertex: r.community
            for r in label_propagation(df, n_iter=n_iter).collect()
        }
        assert got == want


def test_builtin_skewness_matches_moment_closed_form(spark):
    """Spark's skewness() vs the three-power-sum closed form used by
    the value_distribution_moments oracle (population convention)."""
    vals = [1.0, 2.0, 2.0, 3.0, 7.0, 9.0, 4.0]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = df.select(F.skewness("x").alias("s")).collect()[0].s
    n = len(vals)
    m1 = sum(vals) / n
    m2 = sum(v * v for v in vals) / n
    m3 = sum(v ** 3 for v in vals) / n
    want = (m3 - 3 * m1 * m2 + 2 * m1 ** 3) / (m2 - m1 * m1) ** 1.5
    assert abs(got - want) < 1e-9


# --- Count-Min sketch vs brute-force model --------------------------------

cms_strategy = st.lists(
    st.sampled_from(["a", "b", "c", "d", "e"]), min_size=1, max_size=40
)


@given(items=cms_strategy)
@SET
@pytest.mark.exhaustive
def test_cms_never_undercounts_and_is_partitioning_invariant(spark, items):
    import hashlib

    from reddit_hn_etl_spark.operators.sketch import (
        cms_estimates,
        cms_table,
    )

    depth, width = 4, 8  # tiny width forces collisions
    df = spark.createDataFrame([(i,) for i in items], "k string")
    table = cms_table(df, "k", depth=depth, width=width)
    probes = df.distinct()
    got = {
        r.k: r.est
        for r in cms_estimates(
            table, probes, "k", depth=depth, width=width
        ).collect()
    }

    # brute-force model with the same md5 bucket function
    def bucket(r, item):
        h = hashlib.md5(f"{r}|{item}".encode()).hexdigest()[:15]
        return int(h, 16) % width

    cells: dict = {}
    for it in items:
        for r in range(depth):
            key = (r, bucket(r, it))
            cells[key] = cells.get(key, 0) + 1
    truth: dict = {}
    for it in items:
        truth[it] = truth.get(it, 0) + 1
    for it, n in truth.items():
        est = min(cells.get((r, bucket(r, it)), 0) for r in range(depth))
        assert got[it] == est
        assert est >= n

    # partitioning invariance: different partition count, same table
    t2 = cms_table(df.repartition(7), "k", depth=depth, width=width)
    a = {(r.r, r.bucket): r.cnt for r in table.collect()}
    b = {(r.r, r.bucket): r.cnt for r in t2.collect()}
    assert a == b


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.text(
                alphabet="abcxyz", min_size=1, max_size=4
            ),
            min_size=0,
            max_size=12,
        ),
        min_size=1,
        max_size=8,
    ),
    n=st.integers(min_value=1, max_value=5),
)
@pytest.mark.exhaustive
def test_ngram_array_matches_model(spark, docs, n):
    """dedup.ngram_array (the zip_with n-gram builder every shingle
    consumer now shares) == the obvious Python sliding window, for
    every doc length / n combination including empty and shorter-
    than-n docs."""
    from reddit_hn_etl_spark.operators.dedup import ngram_array

    df = spark.createDataFrame(
        [(i, toks) for i, toks in enumerate(docs)],
        "doc_id long, w array<string>",
    )
    got = {
        r["doc_id"]: list(r["g"])
        for r in df.select(
            "doc_id", ngram_array(F.col("w"), n).alias("g")
        ).collect()
    }
    for i, toks in enumerate(docs):
        expect = [
            " ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)
        ]
        assert got[i] == expect, (i, toks, n)


@given(
    docs=st.lists(
        st.lists(st.sampled_from("ab cd ef gh ij".split()),
                 min_size=0, max_size=40),
        min_size=1, max_size=5,
    ),
    n=st.integers(1, 37),
)
@SET
def test_ngram_doubling_matches_python_model(spark, docs, n):
    """`ngram_array_doubling` (r8 — the O(log n)-depth builder the
    LRS binary search uses at large n) vs the obvious Python n-gram
    model, over random token lists crossing every n/size boundary
    (n > size → empty, n == size → one gram, repeats kept)."""
    from reddit_hn_etl_spark.operators.dedup import (
        ngram_array_doubling,
        tokens,
    )

    df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.g
        for r in df.select(
            "doc_id", ngram_array_doubling(tokens("text"), n).alias("g")
        ).collect()
    }
    for i, t in enumerate(docs):
        want = [" ".join(t[j : j + n]) for j in range(len(t) - n + 1)]
        assert got[i] == want, (i, n, t)


@given(
    docs=st.lists(
        st.lists(st.sampled_from("aa bb cc".split()), min_size=0,
                 max_size=8),
        min_size=1, max_size=4,
    ),
    min_docs=st.integers(2, 3),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@pytest.mark.exhaustive
def test_longest_repeated_span_matches_brute_force(spark, docs, min_docs):
    """`longest_repeated_span_length` (r8 binary search over hashed
    L-grams) vs the O(n^3) brute-force model on tiny random corpora —
    the 3-token alphabet forces heavy cross-doc gram collisions,
    short docs hit the empty/min_docs-unsatisfiable edges, and the
    exact-string re-verification runs on every found answer."""
    from reddit_hn_etl_spark.operators.dedup import (
        longest_repeated_span_length,
    )

    df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(docs)],
        "doc_id long, text string",
    )
    got = longest_repeated_span_length(df, "doc_id", "text",
                                       min_docs=min_docs)

    best = 0
    for length in range(1, max((len(t) for t in docs), default=0) + 1):
        grams: dict = {}
        for i, t in enumerate(docs):
            for j in range(len(t) - length + 1):
                grams.setdefault(tuple(t[j : j + length]), set()).add(i)
        if any(len(v) >= min_docs for v in grams.values()):
            best = length
    assert got == best, (docs, min_docs, got, best)

    # occurrence mode (r9, min_count): same brute force but counting
    # POSITIONS — within-doc repeats count; the 3-token alphabet
    # makes single-doc repetition frequent, exercising exactly the
    # cases distinct-doc counting cannot see
    got_occ = longest_repeated_span_length(
        df, "doc_id", "text", min_count=min_docs
    )
    best_occ = 0
    for length in range(1, max((len(t) for t in docs), default=0) + 1):
        counts: dict = {}
        for t in docs:
            for j in range(len(t) - length + 1):
                key = tuple(t[j : j + length])
                counts[key] = counts.get(key, 0) + 1
        if any(v >= min_docs for v in counts.values()):
            best_occ = length
    assert got_occ == best_occ, (docs, min_docs, got_occ, best_occ)


@given(
    docs=st.lists(
        st.lists(st.sampled_from("aa bb cc".split()), min_size=0,
                 max_size=10),
        min_size=1, max_size=5,
    ),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@pytest.mark.exhaustive
def test_remove_duplicate_spans_matches_brute_force(spark, docs):
    """`remove_duplicate_spans` (r9 ExactSubstr removal) vs the
    direct Python model: mark every position covered by a k-gram
    shared by >= 2 distinct docs, drop it, reassemble. The 3-token
    alphabet forces dense cross-doc gram collisions and the size-0
    docs hit the empty-row contract."""
    from reddit_hn_etl_spark.operators.dedup import remove_duplicate_spans

    k = 2
    df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.cleaned_text, r.n_tokens, r.n_tokens_removed)
        for r in remove_duplicate_spans(df, "doc_id", "text", k=k).collect()
    }

    gram_docs: dict = {}
    for i, t in enumerate(docs):
        for j in range(len(t) - k + 1):
            gram_docs.setdefault(tuple(t[j : j + k]), set()).add(i)
    dup = {g for g, ds in gram_docs.items() if len(ds) >= 2}
    for i, t in enumerate(docs):
        covered = set()
        for j in range(len(t) - k + 1):
            if tuple(t[j : j + k]) in dup:
                covered.update(range(j, j + k))
        keep = [tok for j, tok in enumerate(t) if j not in covered]
        assert got[i] == (" ".join(keep), len(t), len(covered)), (
            docs, i, got[i]
        )
    assert set(got) == set(range(len(docs)))


# ---------------------------------------------------------------------------
# canonical_url (functions/scalars.py): differential vs a direct
# Python model of the 6 documented rules, plus idempotence
# (canonical(canonical(u)) == canonical(u)) — the invariant that makes
# a canonical key safe to persist and re-canonicalize across pipeline
# versions. URLs are generated from a component grammar (no IPv6 —
# documented out of scope).
# ---------------------------------------------------------------------------

_TRACKING = ("utm_", "gclid=", "fbclid=", "ref=")


def _model_canonical(url: str) -> str:
    import re

    m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*)://", url)
    scheme = m.group(1).lower() if m else ""
    rest = re.sub(r"^[A-Za-z][A-Za-z0-9+.-]*://", "", url)
    nofrag = rest.split("#", 1)[0]
    m2 = re.match(r"^([^/?]*)", nofrag)
    authority = m2.group(1)
    hostport = authority.split(":", 1)
    host = re.sub(r"^www\.", "", hostport[0].lower())
    port = hostport[1] if len(hostport) > 1 else ""
    keep = port != "" and not (
        (scheme == "http" and port == "80")
        or (scheme == "https" and port == "443")
    )
    port_part = f":{port}" if keep else ""
    pathquery = nofrag[len(authority):]
    path = re.sub(r"/+$", "", pathquery.split("?", 1)[0])
    query = pathquery.split("?", 1)[1] if "?" in pathquery else ""
    params = sorted(
        p
        for p in query.split("&")
        if p != "" and not any(p.lower().startswith(t) for t in _TRACKING)
    )
    qp = "?" + "&".join(params) if params else ""
    return f"{scheme}://{host}{port_part}{path}{qp}"


_url_strategy = st.builds(
    lambda scheme, www, host, port, segs, slash, params, frag: (
        scheme
        + "://"
        + www
        + host
        + port
        + "".join("/" + s for s in segs)
        + slash
        + ("?" + "&".join(params) if params else "")
        + frag
    ),
    scheme=st.sampled_from(["http", "https", "HTTPS", "Http", "ftp"]),
    www=st.sampled_from(["", "www.", "WWW."]),
    host=st.sampled_from(["example.com", "Example.COM", "sub.host.org"]),
    # multi-colon authorities (malformed / userinfo-ish) exercise the
    # port-is-everything-after-the-FIRST-colon rule — engine and model
    # must agree that ':8080:1' and ':8080:2' stay distinct.
    port=st.sampled_from(["", ":80", ":443", ":8080", ":8080:1", ":8080:2"]),
    segs=st.lists(
        st.text(
            alphabet="abcA1.-_~%", min_size=1, max_size=4
        ),
        max_size=3,
    ),
    slash=st.sampled_from(["", "/", "//"]),
    params=st.lists(
        st.sampled_from(
            ["a=1", "b=2", "b=10", "z=", "utm_source=x", "utm_c=y",
             "gclid=G", "fbclid=F", "ref=hn", "refresh=1", "",
             # case-variant tracking params (matched case-insensitively)
             "UTM_SOURCE=X", "REF=y", "Ref=hn", "FBclid=Q", "Refresh=1"]
        ),
        max_size=4,
    ),
    frag=st.sampled_from(["", "#top", "#a?b=2"]),
)


@given(urls=st.lists(_url_strategy, min_size=1, max_size=24))
@SET
@pytest.mark.exhaustive
def test_canonical_url_matches_model_and_is_idempotent(spark, urls):
    from reddit_hn_etl_spark.functions.scalars import canonical_url

    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [
        r.c
        for r in df.select(
            canonical_url(F.col("url")).alias("c")
        ).collect()
    ]
    assert got == [_model_canonical(u) for u in urls]
    df2 = spark.createDataFrame([(c,) for c in got], "url string")
    got2 = [
        r.c
        for r in df2.select(
            canonical_url(F.col("url")).alias("c")
        ).collect()
    ]
    assert got2 == got


# ---------------------------------------------------------------------------
# _assign_probe_cells (operators/similarity.py): the distributed
# probe-assignment stage of the IVF kNN-join vs a direct numpy model —
# per query, the n_probe nearest centroid cells under the documented
# (-cosine, cell index) tie-break, with the query vector riding along
# unchanged. Centroid/vector grids are coarse so exact similarity TIES
# occur and the stable tie-break is actually exercised.
# ---------------------------------------------------------------------------

_vec = st.lists(
    st.sampled_from([-2.0, -1.0, 0.0, 1.0, 2.0]), min_size=4, max_size=4
)


@given(
    centroids=st.lists(_vec, min_size=3, max_size=6),
    queries=st.lists(_vec, min_size=1, max_size=8),
    n_probe=st.integers(1, 3),
)
@SET
def test_assign_probe_cells_matches_numpy_model(
    spark, centroids, queries, n_probe
):
    import numpy as np

    from reddit_hn_etl_spark.operators.similarity import _assign_probe_cells

    qdf = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(queries)],
        "query_id long, embedding array<double>",
    )
    got = sorted(
        (r.query_id, r.cell, tuple(r._qvec))
        for r in _assign_probe_cells(
            qdf, "query_id", "embedding", centroids, n_probe
        ).collect()
    )
    c = np.asarray(centroids, dtype=np.float64)
    cn = c / np.maximum(np.linalg.norm(c, axis=1), 1e-12)[:, None]
    want = []
    for i, v in enumerate(queries):
        q = np.asarray(v, dtype=np.float64)
        sims = np.round((q / max(np.linalg.norm(q), 1e-12)) @ cn.T, 12)
        order = np.argsort(-sims, kind="stable")[:n_probe]
        want.extend((i, int(cell), tuple(q)) for cell in order)
    assert got == sorted(want)
