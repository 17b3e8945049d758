"""Second half of the oracle differentials (suite chunk A2).

Chunk A (test_oracle.py) solo-timed 5:53 on the r9 degraded box and
grows with every registered query; this file carries the odd-index
half of ``sorted(ORACLES)`` so each chunk stays well under the 6:00
rebalance line. The even/odd split self-balances as the registry
grows — no manual rebalancing list to maintain. Helpers and the
strictness contract live in test_oracle.py.
"""

from __future__ import annotations

import pytest

from reddit_hn_etl_spark.plans.queries import ORACLES

from tests.test_oracle import _assert_query_matches_oracle

# The odd half is exhaustive-marked so the default pytest run finishes
# in budget (the even half, test_oracle.py, stays in it, and
# run_suite.sh runs this half on every suite) — except this smoke
# slice, which keeps the kNN queries of this half in the default run.
SMOKE = {
    "embedding_knn_join",
    "ivf_pq_knn",
    "knn_cosine_ivf",
    "mutual_knn_pairs",
    "pq_knn_join",
}


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=() if n in SMOKE else pytest.mark.exhaustive)
        for n in sorted(ORACLES)[1::2]
    ],
)
def test_query_matches_oracle_b(name, spark, duck, sf_dir):
    _assert_query_matches_oracle(name, spark, duck, sf_dir)
