"""The benchmark workloads, driven through the engine's public functions.

Every call into the engine goes through ``Meter.op``, which times the
call (``build``) and the action the benchmark runs on its result
(``exec``) and, in a traced pass, records both as spans with a Spark
job group ``<workload>/<op>/<phase>``. Output checks run outside the
timed phases and compare against ``refmodels``.
"""

from __future__ import annotations

import concurrent.futures
import os
import time
from collections import Counter

import generators as gen
import refmodels as ref
from spans import SPAN_PROPERTY, SpanLog


class Meter:
    """Times and (optionally) traces the operations of one workload."""

    def __init__(self, spark, workload: str, log: SpanLog | None) -> None:
        self.sc = spark.sparkContext
        self.workload = workload
        self.log = log
        self.tracing = False
        self.run = 0
        self.root = None
        self.op_s = 0.0  # timed seconds of the current pass
        self.cpu_s = 0.0  # engine CPU seconds inside them (see engine_cpu_s)
        from pyspark import SparkContext

        self.jvm_pid = SparkContext._gateway.proc.pid
        self.attempted = 0
        self.failed: set = set()
        self.failures: list[str] = []

    def begin_pass(self, run: int, traced: bool) -> None:
        self.run, self.tracing, self.op_s = run, traced and self.log is not None, 0.0
        self.cpu_s = 0.0
        if self.tracing:
            self.root = self.log.open(f"{self.workload}.pass", time.perf_counter(), None, run)

    def end_pass(self) -> None:
        if self.tracing:
            self.root.end = time.perf_counter()
            self._tag(None, None)

    def _tag(self, group, span_id) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        self.sc.setLocalProperty("spark.job.description", group)
        self.sc.setLocalProperty(SPAN_PROPERTY, None if span_id is None else str(span_id))

    def _phase(self, op_span, phase: str, fn):
        """Run ``fn`` as the ``phase`` child span of ``op_span``, tagged
        so its Spark jobs can be attributed, and count those jobs."""
        group = f"{self.workload}/{op_span.name}/{phase}"
        tracker = self.sc.statusTracker()
        before = set(tracker.getJobIdsForGroup(group))
        span = self.log.open(phase, time.perf_counter(), op_span.id, self.run)
        self._tag(group, span.id)
        try:
            return fn()
        finally:
            span.end = time.perf_counter()
            self._tag(None, None)
            span.attrs["jobs"] = len(set(tracker.getJobIdsForGroup(group)) - before)

    def op(self, name: str, build, action=None, rows=None):
        """Run ``build()`` then ``action(built)``; return the action's
        result, or the built value when there is no action. ``rows``
        maps the result to an output row count for the trace. An
        exception ends the run."""
        self.attempted += 1
        c0 = engine_cpu_s(self.jvm_pid)
        t0 = time.perf_counter()
        if not self.tracing:
            built = build()
            result = action(built) if action else built
        else:
            span = self.log.open(name, t0, self.root.id, self.run)
            span.attrs["op"] = True
            try:
                built = self._phase(span, "build", build)
                result = self._phase(span, "exec", lambda: action(built)) if action else built
            finally:
                span.end = time.perf_counter()
            if rows is not None:
                span.attrs["rows"] = rows(result)
        self.op_s += time.perf_counter() - t0
        self.cpu_s += engine_cpu_s(self.jvm_pid) - c0
        return result

    def mark(self) -> tuple:
        """(timed seconds, engine CPU seconds) so far in this pass."""
        return self.op_s, self.cpu_s

    def check(self, ok: bool, op: str, what: str) -> None:
        if not ok:
            self.failed.add((self.run, op))
            self.failures.append(f"pass {self.run}: {op}: {what}")


def engine_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by this process, the Spark JVM and the
    JVM's Python workers: every live descendant, plus what reaped ones
    left in their parents' child counters. The kernel does not charge
    a thread for time the host gave to other tenants, so unlike wall
    time this does not grow under host contention."""
    parent, ticks = {}, {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited meanwhile
            continue
        parent[int(pid)] = int(fields[1])
        ticks[int(pid)] = sum(map(int, fields[11:15]))  # utime stime cutime cstime
    tree, new = set(), {jvm_pid}
    while new:
        tree |= new
        new = {p for p, pp in parent.items() if pp in new}
    return time.process_time() + sum(ticks.get(p, 0) for p in tree) / _CLK


_CLK = os.sysconf("SC_CLK_TCK")


def _collect(df):
    return df.collect()


# ---------------------------------------------------------------------------
# hn_etl
# ---------------------------------------------------------------------------


class HnEtl:
    """Raw HN batches → typed staging → freshness-gated merge, then the
    staging write, the three marts, their atomic publish and checks,
    and one late batch through the incremental mart refresh."""

    name = "hn_etl"
    ops = [
        "sources.batches.read_raw_batch",
        "plans.hn_pipeline.transform_raw",
        "plans.hn_pipeline.validate_staging",
        "operators.merge.merge_upsert",
        "plans.hn_pipeline.write_staging_partitioned",
        "sources.batches.read_staging",
        "plans.hn_pipeline.build_marts",
        "sources.publish.publish_tables",
        "plans.hn_pipeline.run_mart_checks",
        "plans.hn_pipeline.refresh_marts_incremental",
    ]

    BATCHES, BATCH_ITEMS, LATE_ITEMS = 2, 5000, 1500

    def generate(self, directory: str, seed: int) -> None:
        self.inp = gen.write_hn(directory, seed, self.BATCHES, self.BATCH_ITEMS, self.LATE_ITEMS)
        self.rows = self.inp.n_items
        # expected per-batch merge counts and end states
        target: dict = {}
        self.expect_merge = []
        for b in self.inp.batches:
            self.expect_merge.append(ref.hn_merge(target, ref.hn_stage(b.records, b.extracted_at)))
        self.expect_staging = dict(target)
        # ids sent more than once (in-file copies and re-sends)
        seen = Counter(rec["id"] for b in self.inp.batches for rec in filter(None, b.records))
        self.planted_dups = {i for i, n in seen.items() if n > 1}
        self.expect_marts = ref.hn_marts(target)
        late_rows = ref.hn_stage(self.inp.late.records, self.inp.late.extracted_at)
        self.expect_late_merge = ref.hn_merge(target, late_rows)
        self.expect_final_rows = len(target)
        self.late_dates = {ref.metric_date(r["time"]) for r in late_rows.values()}
        self.expect_inc = ref.hn_marts(target, self.late_dates)

    def load(self, spark) -> None:
        from reddit_hn_etl_spark.schema import STAGING_SCHEMA

        self.spark = spark
        self.empty = spark.createDataFrame([], STAGING_SCHEMA)

    def _land(self, m: Meter, batch, target):
        """One batch from raw file to validated, merged and counted."""
        from reddit_hn_etl_spark.operators.merge import merge_upsert
        from reddit_hn_etl_spark.plans import hn_pipeline as hn
        from reddit_hn_etl_spark.sources import batches

        spark = self.spark
        raw = m.op("sources.batches.read_raw_batch", lambda: batches.read_raw_batch(spark, batch.path))
        ts = batches.parse_ts_from_raw_filename(batch.path)
        staged = m.op("plans.hn_pipeline.transform_raw", lambda: hn.transform_raw(raw, ts))
        m.op("plans.hn_pipeline.validate_staging", lambda: hn.validate_staging(staged))

        merged, metrics = m.op(
            "operators.merge.merge_upsert",
            lambda: merge_upsert(target, staged, keys=["id"], freshness_col="extracted_at"),
            lambda res: (res[0].localCheckpoint(eager=True), res[1]),
        )
        return staged, merged, metrics.inserted + metrics.updated + metrics.kept, metrics

    def parts(self, pdir: str) -> list:
        """A pass is one chain of dependent calls: a single part. (A
        second warm-up part running the later calls on the late batch
        alone did not shorten the warm-up.)"""
        return [lambda m: self.run_pass(m, pdir)]

    def run_pass(self, m: Meter, pdir: str) -> list:
        from reddit_hn_etl_spark.plans import hn_pipeline as hn
        from reddit_hn_etl_spark.sources import batches, publish

        spark = self.spark
        op_merge = "operators.merge.merge_upsert"
        lands = []
        target = self.empty
        for i, b in enumerate(self.inp.batches):
            t = m.mark()
            _, target, n, metrics = self._land(m, b, target)
            lands.append(_since(m, t))
            m.check((metrics.inserted, metrics.updated) == self.expect_merge[i], op_merge,
                    f"batch {i} inserted/updated {metrics.inserted}/{metrics.updated} != {self.expect_merge[i]}")
        m.check(n == len(self.expect_staging), op_merge, f"staging rows {n} != {len(self.expect_staging)}")

        staging_root = os.path.join(pdir, "staging")
        pub_root = os.path.join(pdir, "published")
        m.op("plans.hn_pipeline.write_staging_partitioned", lambda: hn.write_staging_partitioned(target, staging_root))
        self._check_staging(m, staging_root)
        staging = m.op("sources.batches.read_staging",
                       lambda: batches.read_staging(spark, staging_root).select(*hn.STAGING_COLS))
        marts = m.op("plans.hn_pipeline.build_marts", lambda: hn.build_marts(staging))

        version = m.op("sources.publish.publish_tables",
                       lambda: publish.publish_tables(marts, pub_root, version=f"run{m.run}"))
        self._check_marts(m, "sources.publish.publish_tables", self.expect_marts,
                          os.path.join(pub_root, f"v={version}"))
        self.top_recall = self._top_domains_recall(os.path.join(pub_root, f"v={version}"))
        res = m.op("plans.hn_pipeline.run_mart_checks", lambda: hn.run_mart_checks(staging, marts))
        exp = self.expect_marts
        got = {r["mart"]: r["row_count"] for r in res["summaries"]}
        want = {"daily_story_metrics": len(exp["daily"]), "top_domains_daily": len(exp["domains"]),
                "user_activity_daily": len(exp["users"])}
        m.check(got == want, "plans.hn_pipeline.run_mart_checks", f"mart row counts {got} != {want}")

        # the late batch lands on the staging table read back from disk
        t = m.mark()
        late_staged, merged, n, metrics = self._land(m, self.inp.late, staging)
        lands.append(_since(m, t))
        m.check((metrics.inserted, metrics.updated) == self.expect_late_merge, op_merge,
                f"late inserted/updated {metrics.inserted}/{metrics.updated} != {self.expect_late_merge}")
        m.check(n == self.expect_final_rows, op_merge, f"final rows {n} != {self.expect_final_rows}")
        inc_root = os.path.join(pdir, "incremental")
        dates = m.op("plans.hn_pipeline.refresh_marts_incremental",
                     lambda: hn.refresh_marts_incremental(merged, late_staged, inc_root))
        op = "plans.hn_pipeline.refresh_marts_incremental"
        m.check(set(dates) == self.late_dates, op, f"refreshed dates {dates} != {self.late_dates}")
        self._check_marts(m, op, self.expect_inc, inc_root)
        return lands

    def _check_staging(self, m: Meter, root: str) -> None:
        """Every id once in the written staging table; the share of
        planted duplicate ids that collapsed to one row is the
        workload's ``planted_dup_recall``."""
        import pyarrow.dataset as ds

        ids = ds.dataset(root, format="parquet", partitioning="hive").to_table(columns=["id"])
        counts = Counter(ids.column("id").to_pylist())
        op = "plans.hn_pipeline.write_staging_partitioned"
        m.check(counts.keys() == self.expect_staging.keys(), op, "staging ids differ from the merged set")
        self.recall = sum(counts[i] == 1 for i in self.planted_dups) / len(self.planted_dups)

    @staticmethod
    def _check_marts(m: Meter, op: str, exp: dict, root: str) -> None:
        """Compare the mart tables written under ``root`` (read with
        pyarrow, so checking adds no Spark job) with ``exp``."""
        import pyarrow.dataset as ds

        def read(table):
            return ds.dataset(os.path.join(root, table), format="parquet",
                              partitioning="hive").to_table().to_pylist()

        got = {str(r["metric_date"]): r for r in read("daily_story_metrics")}
        want = {str(d): v for d, v in exp["daily"].items()}
        m.check(set(got) == set(want), op, f"daily mart dates {sorted(got)} != {sorted(want)}")
        for d, (n, score, comments, avg_s, avg_c) in want.items():
            r = got.get(d)
            ok = (
                r is not None
                and (r["stories_count"], r["total_score"], r["total_comments"]) == (n, score, comments)
                and abs(float(r["avg_score"]) - avg_s) <= 0.005 + 1e-9
                and abs(float(r["avg_comments"]) - avg_c) <= 0.005 + 1e-9
            )
            m.check(ok, op, f"daily mart row {d}: {r} != {(n, score, comments)}")
        for table, key in (("top_domains_daily", "domains"), ("user_activity_daily", "users")):
            rows = read(table)
            got_t = (len(rows), sum(r["stories_count"] for r in rows))
            want_t = (len(exp[key]), sum(exp[key].values()))
            m.check(got_t == want_t, op, f"{table} rows/stories {got_t} != {want_t}")

    def _top_domains_recall(self, root: str) -> float:
        """Share of the ten largest (date, domain) cells of the reference
        model that the published ``top_domains_daily`` mart reports with
        the same story count: the workload's ``recall_at_10``."""
        import pyarrow.dataset as ds

        rows = ds.dataset(os.path.join(root, "top_domains_daily"), format="parquet",
                          partitioning="hive").to_table().to_pylist()
        got = {(str(r["metric_date"]), r["domain"]): r["stories_count"] for r in rows}
        want = sorted(self.expect_marts["domains"].items(), key=lambda kv: (-kv[1], str(kv[0])))[:10]
        return sum(got.get((str(d), dom)) == n for (d, dom), n in want) / len(want)

    def quality(self) -> dict:
        return {"planted_dup_recall": self.recall, "recall_at_10": self.top_recall}


# ---------------------------------------------------------------------------
# operators
# ---------------------------------------------------------------------------


class Operators:
    """The engine's analytics operators on three seeded inputs, one
    section each per pass: corpus curation and the five inverted-index
    pair kernels on a Zipfian corpus with planted edit-chains; the four
    iterative graph operators on a power-law graph; the IVF, IVF-PQ and
    brute-force kNN kernels on clustered embeddings."""

    name = "operators"
    ops = [
        "plans.llm_data_pipeline.curate_corpus",
        "operators.dedup.jaccard_pairs",
        "operators.dedup.jaccard_pairs_prefix",
        "operators.dedup.jaccard_pairs_cross",
        "operators.dedup.containment_pairs",
        "operators.similarity.tf_cosine_pairs",
        "operators.graph.connected_components",
        "operators.graph.pagerank",
        "operators.graph.kcore",
        "operators.graph.label_propagation",
        "operators.similarity.knn_cosine_ivf",
        "operators.similarity.pq_encode_corpus",
        "operators.similarity.pq_knn_join",
        "operators.similarity.knn_cosine_bruteforce",
    ]
    N_GRAM = 2
    JACCARD_T = 0.6
    CROSS_T = 0.5
    CONTAIN_T = 0.8
    COSINE_T = 0.8
    N_DOCS = 600

    N_VERTICES, N_DRAWS = 1000, 3000
    PR_ITER, PR_DAMPING = 3, 0.875  # the engine's defaults
    LPA_ITER = 2
    CORE_K = 3

    N_VECTORS, DIM, N_CLUSTERS = 1000, 16, 8
    PANEL_EVERY = 20  # vec_id % 20 == 1 forms the query panel
    K = 10
    PQ_CELLS, PQ_SUB, PQ_CODES = 8, 4, 16

    def generate(self, directory: str, seed: int) -> None:
        os.makedirs(directory, exist_ok=True)
        self._generate_corpus(directory, seed)
        self.graph = gen.write_graph(os.path.join(directory, "edges.jsonl"), seed,
                                     self.N_VERTICES, self.N_DRAWS)
        adj = ref.adjacency(self.graph.edges)
        self.expect_cc = ref.components(self.graph.edges)
        self.expect_pr = ref.pagerank(adj, self.PR_ITER, self.PR_DAMPING)
        self.expect_core = ref.kcore(adj, self.CORE_K)
        self.expect_lpa = ref.label_propagation(adj, self.LPA_ITER)
        self.emb = gen.write_embeddings(os.path.join(directory, "embeddings.jsonl"), seed,
                                        self.N_VECTORS, self.DIM, self.N_CLUSTERS)
        vecs = self.emb.vectors
        self.panel = [v for v in vecs if v % self.PANEL_EVERY == 1]
        self.expect_knn = {q: ref.cosine_topk(vecs, vecs[q], self.K) for q in self.panel}
        self.rows = len(self.corpus.docs) + len(self.graph.edges) + len(vecs)

    def _generate_corpus(self, directory: str, seed: int) -> None:
        self.corpus = gen.write_corpus(os.path.join(directory, "corpus.jsonl"), seed, self.N_DOCS)
        self.cross_split = len(self.corpus.docs) // 10
        n = self.N_GRAM
        self.sets = {i: ref.shingles(t, n) for i, t in self.corpus.docs.items()}
        self.tfs = {i: ref.ngram_counts(t, n) for i, t in self.corpus.docs.items()}
        # chain neighbours similar enough that jaccard_pairs must report them
        self.must_pair = {
            (a, b)
            for chain in self.corpus.chains
            for a, b in zip(chain, chain[1:])
            if self.sets[a] and self.sets[b] and ref.jaccard(self.sets[a], self.sets[b]) >= self.JACCARD_T
        }

    def load(self, spark) -> None:
        from pyspark.sql import functions as F

        from reddit_hn_etl_spark.operators import kmeans, similarity

        self.docs = spark.read.schema("doc_id long, text string").json(self.corpus.path).cache()
        self.docs_a = self.docs.where(F.col("doc_id") <= self.cross_split)
        self.docs_b = self.docs.where(F.col("doc_id") > self.cross_split)
        self.edges = spark.read.schema("src long, dst long").json(self.graph.path).cache()
        self.vectors = (spark.read.schema("vec_id long, embedding array<double>")
                        .json(self.emb.path).cache())
        self.queries = self.vectors.select(F.col("vec_id").alias("query_id"), "embedding")
        self.panel_df = self.queries.where(F.col("query_id") % self.PANEL_EVERY == 1).cache()
        with concurrent.futures.ThreadPoolExecutor(4) as pool:
            list(pool.map(lambda df: df.count(), (self.docs, self.edges, self.vectors, self.panel_df)))
        # driver-side constants of the IVF-PQ index
        self.coarse = kmeans.seeded_centroids(self.DIM, self.PQ_CELLS, seed=11, scale=1.0)
        self.codebooks = similarity.pq_codebooks(self.DIM, self.PQ_SUB, self.PQ_CODES,
                                                 seed=101, scale=0.5)

    def parts(self, pdir: str) -> list:
        """Independent parts of a pass, each a function of a Meter;
        ``run_pass`` runs them in this order. The longest comes first, so
        a parallel warm-up starts it first."""
        return [self._curate, self._jaccard, self._other_pairs, self._paths, self._peel,
                self._ivf, self._pq_and_exact]

    def run_pass(self, m: Meter, pdir: str) -> list:
        t = m.mark()
        for part in self.parts(pdir):
            part(m)
        return [_since(m, t)]

    def _curate(self, m: Meter) -> None:
        from reddit_hn_etl_spark.plans.llm_data_pipeline import curate_corpus

        fate = m.op("plans.llm_data_pipeline.curate_corpus",
                    lambda: curate_corpus(self.docs, "doc_id", "text"),
                    lambda res: res[1].collect(), rows=len)
        self._check_fate(m, fate)

    def _jaccard(self, m: Meter) -> None:
        from reddit_hn_etl_spark.operators import dedup

        n, docs = self.N_GRAM, self.docs
        jp = m.op("operators.dedup.jaccard_pairs",
                  lambda: dedup.jaccard_pairs(docs, "doc_id", "text", n=n, threshold=self.JACCARD_T),
                  _collect, rows=len)
        pp = m.op("operators.dedup.jaccard_pairs_prefix",
                  lambda: dedup.jaccard_pairs_prefix(docs, "doc_id", "text", n=n, threshold=self.JACCARD_T),
                  _collect, rows=len)
        S = self.sets
        self._check_pairs(m, "operators.dedup.jaccard_pairs", jp, self.JACCARD_T, True,
                          lambda a, b: ref.jaccard(S[a], S[b]))
        got = {(r[0], r[1]) for r in jp}
        m.check(self.must_pair <= got, "operators.dedup.jaccard_pairs",
                f"missed planted pairs {sorted(self.must_pair - got)[:5]}")
        m.check(sorted(map(tuple, pp)) == sorted(map(tuple, jp)), "operators.dedup.jaccard_pairs_prefix",
                "prefix-filtered output differs from jaccard_pairs")

    def _other_pairs(self, m: Meter) -> None:
        from reddit_hn_etl_spark.operators import dedup, similarity

        n, docs = self.N_GRAM, self.docs
        cp = m.op("operators.dedup.jaccard_pairs_cross",
                  lambda: dedup.jaccard_pairs_cross(self.docs_a, self.docs_b, "doc_id", "text",
                                                    n=n, threshold=self.CROSS_T),
                  _collect, rows=len)
        cn = m.op("operators.dedup.containment_pairs",
                  lambda: dedup.containment_pairs(docs, "doc_id", "text", n=n, threshold=self.CONTAIN_T),
                  _collect, rows=len)
        tc = m.op("operators.similarity.tf_cosine_pairs",
                  lambda: similarity.tf_cosine_pairs(docs, "doc_id", "text", n=n, threshold=self.COSINE_T),
                  _collect, rows=len)

        S = self.sets
        ok = all(r[0] <= self.cross_split < r[1] for r in cp)
        m.check(ok, "operators.dedup.jaccard_pairs_cross", "pair not across the split")
        self._check_pairs(m, "operators.dedup.jaccard_pairs_cross", cp, self.CROSS_T, False,
                          lambda a, b: ref.jaccard(S[a], S[b]))
        self._check_pairs(m, "operators.dedup.containment_pairs", cn, self.CONTAIN_T, False,
                          lambda a, b: ref.containment(S[a], S[b]))
        self._check_pairs(m, "operators.similarity.tf_cosine_pairs", tc, self.COSINE_T, True,
                          lambda a, b: ref.tf_cosine(self.tfs[a], self.tfs[b]))

    def _paths(self, m: Meter) -> None:
        from reddit_hn_etl_spark.operators import graph

        e = self.edges
        op = "operators.graph.connected_components"
        cc = m.op(op, lambda: graph.connected_components(e, "src", "dst"), _collect, rows=len)
        m.check(dict(map(tuple, cc)) == self.expect_cc, op, "components differ from union-find")

        op = "operators.graph.pagerank"
        pr = m.op(op, lambda: graph.pagerank(e, n_iter=self.PR_ITER, damping=self.PR_DAMPING),
                  _collect, rows=len)
        got = dict(map(tuple, pr))
        mass = sum(got.values())
        m.check(abs(mass - 1.0) <= 1e-9, op, f"rank mass {mass!r} != 1")
        ok = got.keys() == self.expect_pr.keys() and all(
            abs(got[v] - r) <= 1e-12 for v, r in self.expect_pr.items())
        m.check(ok, op, "ranks differ from power iteration")

    def _peel(self, m: Meter) -> None:
        from reddit_hn_etl_spark.operators import graph

        e = self.edges
        op = "operators.graph.kcore"
        core = m.op(op, lambda: graph.kcore(e, self.CORE_K), _collect, rows=len)
        m.check(dict(map(tuple, core)) == self.expect_core, op, "core differs from peeling")

        op = "operators.graph.label_propagation"
        lpa = m.op(op, lambda: graph.label_propagation(e, n_iter=self.LPA_ITER), _collect, rows=len)
        m.check(dict(map(tuple, lpa)) == self.expect_lpa, op, "labels differ from synchronous LPA")

    def _ivf(self, m: Meter) -> None:
        from reddit_hn_etl_spark.operators import similarity

        k, vecs = self.K, self.vectors
        op = "operators.similarity.knn_cosine_ivf"
        ivf = m.op(op, lambda: similarity.knn_cosine_ivf(vecs, self.queries, self.DIM, k=k,
                                                         distributed_queries=True),
                   _collect, rows=len)
        hits = _neighbours(ivf)
        m.check(hits.keys() == self.emb.vectors.keys(), op, "self-join does not cover the corpus")
        bad = [q for q, ids in hits.items() if len(ids) != k or ids[0] != q]
        m.check(not bad, op, f"queries without {k} hits led by themselves: {bad[:5]}")
        self.recall = sum(
            len(set(hits.get(q, [])) & set(want)) for q, want in self.expect_knn.items()
        ) / (k * len(self.expect_knn))

    def _pq_and_exact(self, m: Meter) -> None:
        from reddit_hn_etl_spark.operators import similarity

        k, vecs = self.K, self.vectors
        op = "operators.similarity.pq_encode_corpus"
        enc = m.op(op, lambda: similarity.pq_encode_corpus(vecs, self.coarse, self.codebooks),
                   lambda df: df.localCheckpoint(eager=True))
        op = "operators.similarity.pq_knn_join"
        pq = m.op(op, lambda: similarity.pq_knn_join(vecs, self.panel_df, self.coarse, self.codebooks,
                                                     k=k, encoded=enc),
                  _collect, rows=len)
        got: dict = {}
        for r in pq:
            got.setdefault(r["query_id"], set()).add(r["vec_id"])
        bad = [q for q in self.panel if len(got.get(q, ())) != k
               or not got[q] <= self.emb.vectors.keys()]
        m.check(not bad, op, f"panel queries without {k} corpus hits: {bad[:5]}")

        op = "operators.similarity.knn_cosine_bruteforce"
        bf = m.op(op, lambda: similarity.knn_cosine_bruteforce(vecs, self.panel_df, k=k),
                  _collect, rows=len)
        got = _neighbours(bf)
        bad = [q for q, want in self.expect_knn.items() if got.get(q) != want]
        m.check(not bad, op, f"panel top-{k} differs from exact cosine: {bad[:5]}")

    @staticmethod
    def _check_pairs(m, op, rows, threshold, ordered, score) -> None:
        keys = [(r[0], r[1]) for r in rows]
        m.check(len(set(keys)) == len(keys), op, "duplicate pairs")
        for a, b, s in rows:
            exact = score(a, b)
            if (ordered and a >= b) or exact < threshold - 1e-12 or not ref.score_matches(s, exact):
                m.check(False, op, f"pair ({a},{b}) score {s} vs exact {exact:.6f}")
                return

    def _check_fate(self, m: Meter, rows: list) -> None:
        """One fate per doc; copies, junk and unplanted docs get the
        fate they must; the share of planted duplicates marked as
        duplicates is the workload's ``planted_dup_recall``."""
        op = "plans.llm_data_pipeline.curate_corpus"
        c = self.corpus
        fate = {r["doc_id"]: r["fate"] for r in rows}
        m.check(len(rows) == len(fate) and fate.keys() == c.docs.keys(), op,
                "fate rows do not cover the corpus once")
        bad = [i for i in c.exact_copies if i not in c.low_quality and fate.get(i) != "exact_dup"]
        m.check(not bad, op, f"exact copies not marked exact_dup: {bad[:5]}")
        bad = [i for i in c.low_quality if fate.get(i) != "low_quality"]
        m.check(not bad, op, f"junk docs not marked low_quality: {bad[:5]}")
        plain = set(c.docs) - c.planted_dups - c.low_quality
        bad = [i for i in plain if fate.get(i) != "kept"]
        m.check(not bad, op, f"unplanted docs not kept: {bad[:5]}")
        dups = c.planted_dups - c.low_quality
        self.dup_recall = sum(fate.get(i) in ("near_dup", "exact_dup") for i in dups) / len(dups)

    def quality(self) -> dict:
        return {"planted_dup_recall": self.dup_recall, "recall_at_10": self.recall}


def _since(m: Meter, mark: tuple) -> tuple:
    """(timed seconds, engine CPU seconds) since ``mark``: one batch."""
    return tuple(now - then for now, then in zip(m.mark(), mark))


def _neighbours(rows) -> dict:
    """query id -> neighbour ids in rank order, from kNN output rows."""
    out: dict = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(r["query_id"], []).append(r["vec_id"])
    return out


WORKLOADS = {w.name: w for w in (HnEtl, Operators)}
