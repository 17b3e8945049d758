"""Static contract: every driver-side ``.collect()`` in the engine
package must be a KNOWN bounded/guarded site (VERDICT r6 #2 "done"
criterion, same discipline as the registry-wide plan walker: the
audit is machine-checked, not prose). A new ``.collect()`` anywhere
in the package fails this test until it is (a) bounded by
construction, (b) guarded by a loud max-rows check, and (c) added to
the allowlist below with its bound stated.

Keyed by (file, enclosing function) — line numbers shift, names
don't. Stale entries fail too, so the allowlist can't rot.
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)), "reddit_hn_etl_spark")

# (relative file, dotted enclosing function) -> stated bound
ALLOWED = {
    ("__main__.py", "main"): "CLI demo: 1-row-per-component lineage frames",
    ("plans/hn_pipeline.py", "run_mart_checks"): "fixed check summary rows (one per check)",
    ("plans/hn_pipeline.py", "validate_staging"): "1-row fused guard aggregate",
    ("plans/hn_pipeline.py", "affected_dates"): "distinct event dates in ONE ingest batch",
    ("plans/queries.py", "pca_project_top1"): "k-row component frame (k=1 here)",
    ("streaming/ingest.py", "_batch_stamp_epoch"): "distinct source filenames of one micro-batch / 1-row max aggregate",
    ("streaming/ingest.py", "stream_merge_to_staging.process"): "1-row scalar aggregate (max batch ts)",
    ("streaming/ingest.py", "_new_vs_snapshot"): "2-row aggregate (new vs snapshot stats of the IVF/PQ drift reports)",
    ("operators/kmeans.py", "update_centroids"): "n_cells centroid rows (k-means k)",
    ("operators/kmeans.py", "update_centroids_minibatch"): "k·dim partial rows (k-means k)",
    ("operators/graph.py", "_probe"): "1-row convergence probe aggregate (one per fixpoint round)",
    ("operators/similarity.py", "knn_cosine_bruteforce"): "guarded: loud rows×dim budget (max_query_rows×64 cells, r13) and row ceiling (max_query_rows×8) checked BEFORE the collect (r12 Arrow scoring kernel; same memory class as the broadcast relation it replaced)",
    ("operators/similarity.py", "kmeans_centroids"): "n_cells seed rows (each Lloyd step collects in kmeans.update_centroids)",
    ("operators/checks.py", "assert_unique_key"): "limit(1) probe",
    ("operators/checks.py", "assert_not_null"): "limit(1) probe",
    ("operators/checks.py", "assert_non_empty"): "limit(1) probe",
    ("operators/checks.py", "assert_cast_lossless"): "limit(1) probe",
    ("functions/bpe.py", "train_bpe_distributed"): "guarded: top_words cap default; loud max_vocab_rows on explicit None",
    ("operators/regression.py", "logistic_regression_gd"): "1-row scalar gradient aggregate (d+2 numbers) per iteration",
}


def _collect_sites() -> set[tuple[str, str]]:
    sites: set[tuple[str, str]] = set()
    for dirpath, _, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            rel = os.path.relpath(path, PKG)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())

            stack: list[str] = []
            found: list[str] = []

            class V(ast.NodeVisitor):
                def visit_FunctionDef(self, n):
                    stack.append(n.name)
                    self.generic_visit(n)
                    stack.pop()

                visit_AsyncFunctionDef = visit_FunctionDef

                def visit_Call(self, n):
                    if (
                        isinstance(n.func, ast.Attribute)
                        and n.func.attr == "collect"
                    ):
                        found.append(".".join(stack) or "<module>")
                    self.generic_visit(n)

            V().visit(tree)
            sites.update((rel, fn) for fn in found)
    return sites


def test_every_package_collect_is_allowlisted():
    sites = _collect_sites()
    unknown = sites - set(ALLOWED)
    assert not unknown, (
        "new driver-side collect() sites — bound or guard them, then "
        f"allowlist with the stated bound: {sorted(unknown)}"
    )
    stale = set(ALLOWED) - sites
    assert not stale, f"stale allowlist entries (site removed): {sorted(stale)}"
