"""Tests of the benchmark's pure parts (no Spark session needed).

    python -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import datetime as dt
import filecmp
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import generators as gen  # noqa: E402
import refmodels as ref  # noqa: E402
import run  # noqa: E402
from spans import Span, SpanLog, coverage, layer_metrics, parse_event_log, self_time  # noqa: E402

# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def _task_end(stage, run_ms, sw_bytes, sw_records, attempt=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Stage Attempt ID": attempt,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Shuffle Write Metrics": {
                "Shuffle Bytes Written": sw_bytes,
                "Shuffle Records Written": sw_records,
            },
        },
    }


TINY_LOG = [
    {"Event": "SparkListenerApplicationStart", "App Name": "perfbench"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
     "Properties": {"perfbench.span": "2", "spark.jobGroup.id": "w/op/build"}},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0},
     "Properties": {"perfbench.span": "2"}},
    _task_end(0, 120, 1000, 10),
    _task_end(0, 80, 500, 5),
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1, "Stage Attempt ID": 0},
     "Properties": {"perfbench.span": "2"}},
    _task_end(1, 30, 0, 0),
    # a job outside any span: counted nowhere
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2, "Stage Attempt ID": 0}},
    _task_end(2, 999, 999, 9),
    # a retried stage attempt attributed to another span
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
     "Properties": {"perfbench.span": "3"}},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 3, "Stage Attempt ID": 1},
     "Properties": {"perfbench.span": "3"}},
    _task_end(3, 40, 10, 1, attempt=1),
]


def test_parse_event_log_attributes_tasks_through_stages():
    lines = [json.dumps(e) for e in TINY_LOG] + [""]
    out = parse_event_log(lines)
    assert set(out) == {"2", "3"}
    assert out["2"] == {
        "jobs": 1, "run_ms": 230, "shuffle_write_bytes": 1500,
        "shuffle_write_records": 15,
    }
    assert out["3"]["jobs"] == 1 and out["3"]["run_ms"] == 40


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


def test_self_time_subtracts_the_union_of_children():
    parent = Span(0, "p", 0.0, 10.0)
    kids = [
        Span(1, "a", 1.0, 3.0, parent=0),
        Span(2, "b", 2.0, 4.0, parent=0),  # overlaps a: union 1..4
        Span(3, "c", 6.0, 7.0, parent=0),
        Span(4, "d", 9.5, 12.0, parent=0),  # clipped to 9.5..10
    ]
    assert self_time(parent, kids) == pytest.approx(10.0 - 3.0 - 1.0 - 0.5)
    assert self_time(parent, []) == 10.0


def _traced_log():
    """Two calls of one op: build+exec, then build only."""
    log = SpanLog()
    root = log.open("w.pass", 0.0, None, 1)
    for start, exec_s in ((0.0, 1.0), (4.0, None)):
        op = log.open("ops.pair", start, root.id, 1)
        op.attrs.update(op=True, rows=4)
        b = log.open("build", start, op.id, 1)
        b.end = start + 2.0
        b.attrs["jobs"] = 3
        op.end = b.end
        if exec_s:
            e = log.open("exec", b.end, op.id, 1)
            e.end = op.end = b.end + exec_s
    root.end = 8.0
    return log


def test_layer_metrics_medians_and_pooled_ratios():
    log = _traced_log()
    events = {
        "2": {"run_ms": 4000, "shuffle_write_bytes": 2_000_000, "shuffle_write_records": 6},
        "3": {"run_ms": 2000, "shuffle_write_records": 2},
        "5": {"run_ms": 2000, "shuffle_write_bytes": 1_000_000},
    }
    wanted = {"ops.pair": ("build_s", "exec_s", "build_jobs", "shuffle_write_mb", "core_util", "yield"),
              "ops.absent": ("build_s",)}
    m = layer_metrics(log, events, nproc=2, measures=wanted)
    assert m["ops.pair.build_s"] == 2.0
    assert m["ops.pair.exec_s"] == 0.5  # median of 1.0 and no exec
    assert m["ops.pair.build_jobs"] == 3
    assert m["ops.pair.shuffle_write_mb"] == pytest.approx(1.5)
    # 8 s of executor time over 5 s of wall on 2 cores
    assert m["ops.pair.core_util"] == pytest.approx(8.0 / (5.0 * 2))
    assert m["ops.pair.yield"] == pytest.approx(8 / 8)
    assert m["ops.absent.build_s"] == 0.0


def test_coverage_is_the_op_share_of_pass_time():
    assert coverage(_traced_log()) == pytest.approx(5.0 / 8.0)


# ---------------------------------------------------------------------------
# generators
# ---------------------------------------------------------------------------


def test_generators_are_deterministic(tmp_path):
    for name, seed in (("a", 1), ("b", 1), ("c", 2)):
        gen.write_hn(str(tmp_path / name / "hn"), seed, 2, 300, 60)
        gen.write_corpus(str(tmp_path / name / "corpus.jsonl"), seed, 200)
        gen.write_graph(str(tmp_path / name / "edges.jsonl"), seed, 300, 900)
        gen.write_embeddings(str(tmp_path / name / "emb.jsonl"), seed, 100, 8, 4)
    a, b, c = (tmp_path / n for n in "abc")
    for f in ("edges.jsonl", "emb.jsonl"):
        assert filecmp.cmp(a / f, b / f, shallow=False)
        assert not filecmp.cmp(a / f, c / f, shallow=False)
    names = sorted(os.listdir(a / "hn"))
    assert names == sorted(os.listdir(b / "hn")) and len(names) == 3
    assert filecmp.cmpfiles(a / "hn", b / "hn", names, shallow=False)[0] == names
    assert filecmp.cmp(a / "corpus.jsonl", b / "corpus.jsonl", shallow=False)
    assert not filecmp.cmp(a / "corpus.jsonl", c / "corpus.jsonl", shallow=False)
    assert filecmp.cmpfiles(a / "hn", c / "hn", names, shallow=False)[0] != names


def test_hn_batches_carry_the_edge_cases(tmp_path):
    inp = gen.write_hn(str(tmp_path), 7, 2, 400, 80)
    first, second = inp.batches
    assert second.extracted_at < first.extracted_at < inp.late.extracted_at
    recs = first.records + second.records
    assert None in recs
    items = [r for r in recs if r is not None]
    assert any("url" not in r for r in items) and any("score" not in r for r in items)
    assert any(r.get("url", "").startswith("HTTPS://") for r in items if r.get("url"))
    ids = [r["id"] for r in first.records if r is not None]
    assert len(ids) > len(set(ids))  # in-file duplicates
    assert {r["id"] for r in second.records if r} & set(ids)  # re-sends


def test_corpus_plants_chains_copies_and_junk(tmp_path):
    c = gen.write_corpus(str(tmp_path / "c.jsonl"), 3, 300)
    assert c.chains and c.exact_copies and c.low_quality
    for chain in c.chains:
        assert chain == sorted(chain) and chain[0] in c.chain_roots
    for i in c.exact_copies:
        assert any(c.docs[j] == c.docs[i] for j in c.docs if j < i)


def test_graph_is_power_law_and_canonical(tmp_path):
    g = gen.write_graph(str(tmp_path / "e.jsonl"), 5, 1000, 4000)
    assert all(a < b for a, b in g.edges) and len(set(g.edges)) == len(g.edges)
    deg = sorted((len(n) for n in ref.adjacency(g.edges).values()), reverse=True)
    assert deg[0] >= 10 * deg[len(deg) // 2]  # heavy-tailed
    with open(g.path, encoding="utf-8") as f:
        assert [tuple(json.loads(line).values()) for line in f] == g.edges


def test_embeddings_round_trip_and_cluster(tmp_path):
    e = gen.write_embeddings(str(tmp_path / "v.jsonl"), 5, 60, 8, 3)
    with open(e.path, encoding="utf-8") as f:
        rows = [json.loads(line) for line in f]
    assert {r["vec_id"]: r["embedding"] for r in rows} == e.vectors
    # a vector's nearest other vector comes from its own cluster
    for q, vec in list(e.vectors.items())[:10]:
        nearest = ref.cosine_topk(e.vectors, vec, 2)
        assert nearest[0] == q and e.cluster[nearest[1]] == e.cluster[q]


# ---------------------------------------------------------------------------
# reference models
# ---------------------------------------------------------------------------

T0 = dt.datetime(2024, 3, 5, tzinfo=dt.timezone.utc)


def test_hn_stage_drops_nulls_defaults_and_keeps_last():
    recs = [
        {"id": 1, "type": "story", "by": "a", "time": 0, "title": "x", "score": 5, "kids": [1, 2]},
        None,
        {"id": 2, "type": "job", "by": None, "time": 10, "title": "y"},
        {"id": 1, "type": "story", "by": "a", "time": 0, "title": "x", "score": 9},
    ]
    rows = ref.hn_stage(recs, T0)
    assert sorted(rows) == [1, 2]
    assert rows[1]["score"] == 9 and rows[1]["kids_count"] == 0
    assert rows[2]["score"] == 0 and rows[2]["descendants"] == 0 and rows[2]["url"] is None


def test_hn_merge_is_freshness_gated():
    target = ref.hn_stage([{"id": 1, "time": 0, "title": "a", "type": "story"}], T0)
    older = ref.hn_stage([{"id": 1, "time": 0, "title": "old", "type": "story"},
                          {"id": 2, "time": 0, "title": "new", "type": "story"}],
                         T0 - dt.timedelta(hours=1))
    assert ref.hn_merge(target, older) == (1, 0)
    assert target[1]["title"] == "a"
    newer = ref.hn_stage([{"id": 1, "time": 0, "title": "b", "type": "story"}], T0 + dt.timedelta(hours=1))
    assert ref.hn_merge(target, newer) == (0, 1)
    assert target[1]["title"] == "b"
    same = ref.hn_stage([{"id": 1, "time": 0, "title": "c", "type": "story"}], T0 + dt.timedelta(hours=1))
    assert ref.hn_merge(target, same) == (0, 0)  # equal stamps never update


def test_hn_marts_on_a_hand_sized_staging():
    day = int(dt.datetime(2024, 3, 1, 23, 59, tzinfo=dt.timezone.utc).timestamp())
    rows = ref.hn_stage([
        {"id": 1, "type": "story", "by": "a", "time": day, "title": "t", "url": "HTTPS://Ex.COM/p", "score": 3},
        {"id": 2, "type": "story", "by": None, "time": day + 60, "title": "t", "url": "", "descendants": 4},
        {"id": 3, "type": "comment", "by": "a", "time": day, "title": "t", "score": 100},
    ], T0)
    marts = ref.hn_marts(rows)
    d1, d2 = dt.date(2024, 3, 1), dt.date(2024, 3, 2)
    assert marts["daily"] == {d1: (1, 3, 0, 3.0, 0.0), d2: (1, 0, 4, 0.0, 4.0)}
    assert marts["domains"] == {(d1, "ex.com"): 1, (d2, "(no_domain)"): 1}
    assert marts["users"] == {(d1, "a"): 1, (d2, "(unknown)"): 1}
    assert ref.hn_marts(rows, {d2})["daily"] == {d2: (1, 0, 4, 0.0, 4.0)}


def test_pair_scores_on_hand_sized_docs():
    a, b = "The cat sat on the mat", "the cat sat on a mat"
    sa, sb = ref.shingles(a, 2), ref.shingles(b, 2)
    assert sa == {"the cat", "cat sat", "sat on", "on the", "the mat"}
    assert ref.jaccard(sa, sb) == pytest.approx(3 / 7)
    assert ref.containment(sa, sb) == pytest.approx(3 / 5)
    ta, tb = ref.ngram_counts("x y x y", 1), ref.ngram_counts("x x y", 1)
    assert ref.tf_cosine(ta, tb) == pytest.approx((2 * 2 + 2 * 1) / (8 ** 0.5 * 5 ** 0.5))
    assert ref.score_matches(0.4286, 3 / 7) and not ref.score_matches(0.4287, 3 / 7)


# a triangle 1-2-3 with a tail 3-4-5, and a separate edge 6-7
GRAPH = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (6, 7)]


def test_components_are_min_ids():
    assert ref.components(GRAPH) == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 6, 7: 6}


def test_pagerank_conserves_mass_and_favours_hubs():
    adj = ref.adjacency(GRAPH)
    pr = ref.pagerank(adj, 3, 0.875)
    assert sum(pr.values()) == pytest.approx(1.0, abs=1e-12)
    assert pr[3] == max(pr.values())
    assert ref.pagerank(adj, 0, 0.875) == {v: 1 / 7 for v in adj}


def test_kcore_peels_the_tail():
    adj = ref.adjacency(GRAPH)
    assert ref.kcore(adj, 2) == {1: 2, 2: 2, 3: 2}
    assert ref.kcore(adj, 3) == {}
    assert ref.kcore(adj, 1) == {v: len(n) for v, n in adj.items()}


def test_label_propagation_ties_go_to_the_smallest_label():
    adj = ref.adjacency(GRAPH)
    one = ref.label_propagation(adj, 1)
    # vertex 1 sees labels {2, 3}, a tie: it takes 2; vertex 4 sees {3, 5}: 3
    assert one[1] == 2 and one[4] == 3 and one[6] == 7 and one[7] == 6
    assert ref.label_propagation(adj, 0) == {v: v for v in adj}


def test_cosine_topk_orders_by_cosine_then_id():
    vecs = {1: [1.0, 0.0], 2: [0.0, 1.0], 3: [2.0, 0.0], 4: [1.0, 1.0]}
    assert ref.cosine_topk(vecs, [1.0, 0.1], 3) == [1, 3, 4]


# ---------------------------------------------------------------------------
# BENCHMARK.json agrees with what run.py prints
# ---------------------------------------------------------------------------


def test_benchmark_json_matches_run_py():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    import workloads

    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert len(spec["per_layer"]) <= 128
    ops = {op for w in workloads.WORKLOADS.values() for op in w.ops}
    assert ops == set(run.LAYER_MEASURES)
