"""Join-based MERGE / upsert with a freshness predicate.

Reference semantics (SURVEY.md §2.5 A7): `sql/load/03_merge.sql:1-32`
runs, in one statement pair,

  * INSERT ... ON CONFLICT (id) DO NOTHING   — new keys only
  * UPDATE ... WHERE t.id = s.id AND s.extracted_at > t.extracted_at
                                              — freshness-gated update

returning ``(inserted, updated)`` counts that the audit protocol
records (`src/load/hn_load.py:105-120`).

Spark has no mutable table, so we re-express MERGE as a join-based
reconciliation that produces the *post-merge state* plus the same
metrics:

  * ``kept``     — target rows with no matching source key, or whose
                   source match is NOT fresher (freshness gate)
  * ``updated``  — target keys whose source match IS fresher → source row
  * ``inserted`` — source keys absent from target (anti-join)

Scale notes (100 TB posture):
  * One shuffle on the merge key for the outer join; AQE handles skew.
  * With a date-partitioned target, restrict the rewrite to partitions
    present in the source batch (dynamic partition overwrite) — the
    helper ``merge_upsert`` is layout-agnostic; ``run_merge`` in
    plans/hn_pipeline wires partition pruning.
  * Metrics are tallied by an ``Observation`` on the one job that
    materializes the merged frame (an eager ``localCheckpoint``), not
    by a second aggregation or a re-run of the join.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

ACTION_COL = "_merge_action"


@dataclass
class MergeMetrics:
    """Audit contract of `sql/load/03_merge.sql:30-32`."""

    inserted: int
    updated: int
    kept: int


def merge_resolve(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    freshness_col: str,
    keep_action: bool = False,
) -> DataFrame:
    """Return the post-merge state of ``target`` after applying ``source``.

    Row-level semantics (matches `sql/load/03_merge.sql`):
      - key only in target            -> target row   (kept)
      - key only in source            -> source row   (inserted)
      - key in both, source fresher   -> source row   (updated)
      - key in both, source not fresher -> target row (kept; the
        ``>`` strictness of `03_merge.sql:27` is preserved — equal
        timestamps do NOT update)

    ``source`` is first deduplicated per key keeping the freshest row,
    mirroring the dedup-before-merge invariant
    (`src/transform/hn_transform.py:109-111`).
    """
    keys = list(keys)
    cols = target.columns
    if source.columns != cols:
        source = source.select(*cols)

    from .dedup import dedup_keep_last

    src = dedup_keep_last(source, keys=keys, order_by=[freshness_col])

    # Presence markers instead of key-nullability tests: the join is
    # null-safe on the keys, so a row with a NULL key value is still a
    # legitimate match — only the marker says which side exists.
    t = target.withColumn("_t_present", F.lit(1)).alias("t")
    s = src.withColumn("_s_present", F.lit(1)).alias("s")
    cond = [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in keys]
    joined = t.join(s, on=cond, how="full_outer")

    t_here = F.col("t._t_present").isNotNull()
    s_here = F.col("s._s_present").isNotNull()
    take_source: Column = s_here & (
        ~t_here | (F.col(f"s.{freshness_col}") > F.col(f"t.{freshness_col}"))
    )

    out_cols = [
        F.when(take_source, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
        for c in cols
    ]
    action = (
        F.when(~t_here, F.lit("inserted"))
        .when(take_source, F.lit("updated"))
        .otherwise(F.lit("kept"))
        .alias(ACTION_COL)
    )
    out = joined.select(*out_cols, action)
    if not keep_action:
        out = out.drop(ACTION_COL)
    return out


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    freshness_col: str,
) -> tuple[DataFrame, MergeMetrics]:
    """Merge and also compute the audit metrics, with one Spark action.

    Construction runs ONE eager ``localCheckpoint`` of the merged frame
    (under AQE that action submits one job per shuffle stage of the
    dedup and the join, plus the final one), and the inserted /
    updated / kept tallies ride it as an unnamed ``Observation`` (a
    fresh random name per call, so concurrent or repeated merges
    cannot collide). The returned frame is that checkpoint: its
    lineage is cut, so actions on it read the materialized rows
    instead of recomputing the source parse, the dedup window and the
    join, and a multi-batch loop's plan does not grow batch by batch.

    No storage leak across multi-batch loops (``--all-batches``,
    streaming foreachBatch; ADVICE r1): nothing enters the
    CacheManager, which holds every persisted frame until an explicit
    ``unpersist``. The checkpoint's blocks belong to its RDD, and the
    ContextCleaner drops them once the returned frame is no longer
    referenced, as when a loop replaces ``target`` with the next merge.
    """
    merged = merge_resolve(target, source, keys, freshness_col, keep_action=True)
    obs = Observation()
    tally = {
        a: F.sum((F.col(ACTION_COL) == a).cast("long")).alias(a)
        for a in ("inserted", "updated", "kept")
    }
    out = (
        merged.observe(obs, *tally.values())
        .drop(ACTION_COL)
        .localCheckpoint(eager=True)
    )
    counts = obs.get  # sums over an empty merge are NULL
    metrics = MergeMetrics(**{a: counts[a] or 0 for a in tally})
    return out, metrics
