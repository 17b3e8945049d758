"""The reference pipeline, re-expressed Spark-first.

Covers the full transform → merge → marts lifecycle of
`RCepenco/reddit-hn-etl` (SURVEY.md §3):

  * ``transform_raw``  — `src/transform/hn_transform.py:39-118`
    (P1-P9 + A6 as one lazy DataFrame plan)
  * ``load_merge``     — `sql/load/03_merge.sql` semantics via the
    join-based merge operator, with audit metrics
  * ``mart_*``         — the three aggregate marts of
    `sql/mart/02_marts.sql` (A1-A3 with F1-F7 scalars)
  * ``run_mart_checks`` — `sql/mart/03_checks.sql` as validators

Scale design: the staging table is laid out as date-partitioned
parquet (partition pruning replaces the reference's B-tree indexes,
SURVEY.md §4.1); marts are full-refresh aggregations (matching the
reference's declared strategy, `sql/mart/02_marts.sql:4`) published
atomically via the versioned-pointer protocol in sources/publish.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

from ..functions.scalars import (
    coalesce_default,
    domain_from_url,
    epoch_to_ts,
    money2,
    to_metric_date,
)
from ..operators import checks
from ..operators.dedup import dedup_keep_last
from ..operators.merge import MergeMetrics, merge_upsert
from ..schema import HN_RAW_CONTRACT, STAGING_NOT_NULL, STAGING_SCHEMA

STAGING_COLS = [f.name for f in STAGING_SCHEMA.fields]


def transform_raw(raw: DataFrame, batch_ts) -> DataFrame:
    """Raw HN items → typed staging rows (one lazy plan, no shuffles
    except the dedup window).

    Steps (reference file:line in SURVEY.md §2.3):
      P1  drop null records            (`hn_transform.py:56-58`)
      P2  required-column validation   (`hn_transform.py:62-65`)
      P3  default missing columns      (`hn_transform.py:67-75`)
      P4  strict casts id/time         (`hn_transform.py:77-78`)
      P5  lenient casts score/desc → 0 (`hn_transform.py:79-82`)
      P6  kids_count = len(kids)       (`hn_transform.py:84-86`)
      P7  time_utc = epoch→timestamp   (`hn_transform.py:88`)
      P8  extracted_at = batch constant(`hn_transform.py:90-91`)
      P9  12-column projection         (`hn_transform.py:93-107`)
      A6  dedup by id, keep last       (`hn_transform.py:109-111`)

    ``batch_ts`` comes from the batch *name*, never wall clock
    (`src/common/files.py:9-13`) — deterministic lineage.

    Keep-last determinism: pandas keeps last in file order; file
    order is not stable distributed, so we order by a ``_seq``
    column if the reader attached one (sources/batches.py does),
    else by the freshest content proxy (score, descendants).
    """
    df = HN_RAW_CONTRACT.normalize(raw)

    # P1: drop records that are entirely null (JSON nulls in the array).
    # Underscore columns are reader-attached lineage (_seq, _src_file),
    # not data — they must not keep an all-null record alive.
    data_cols = [c for c in df.columns if not c.startswith("_")]
    df = df.na.drop(how="all", subset=data_cols)

    # P4 strict + P5 lenient casts. Raw may arrive string-typed from
    # permissive sources; try_cast keeps ANSI mode from aborting the
    # job so the lossless check can raise a *data* error instead.
    df = (
        df.withColumn("id", F.col("id").try_cast("long"))
        .withColumn("time", F.col("time").try_cast("long"))
        .withColumn(
            "score",
            F.coalesce(F.col("score").try_cast("long"), F.lit(0).cast("long")),
        )
        .withColumn(
            "descendants",
            F.coalesce(F.col("descendants").try_cast("long"), F.lit(0).cast("long")),
        )
    )

    out = df.select(
        "id",
        "type",
        "by",
        "time",
        epoch_to_ts("time").alias("time_utc"),
        "title",
        "url",
        "score",
        "descendants",
        F.when(F.col("kids").isNotNull(), F.size("kids"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("kids_count"),
        "text",
        (
            batch_ts if isinstance(batch_ts, Column) else F.lit(batch_ts)
        ).cast("timestamp").alias("extracted_at"),
        *([F.col("_seq")] if "_seq" in df.columns else []),
    )

    order_by = ["extracted_at"] + (
        ["_seq"] if "_seq" in out.columns else ["score", "descendants"]
    )
    out = dedup_keep_last(out, keys=["id"], order_by=order_by)
    return out.select(*STAGING_COLS)


def validate_staging(df: DataFrame) -> None:
    """The reference's fail-fast battery (SURVEY.md §5.1): non-empty
    result, NOT NULL contract, PK uniqueness.

    All three guards come from ONE fused 1-row aggregate: per ``id``
    group the row count and whether any ``STAGING_NOT_NULL`` column is
    NULL, then rows, max rows per id and any NULL over the groups. The
    ``groupBy("id")`` reuses the hash partitioning on ``id`` that
    ``transform_raw``'s dedup window already shuffled to, so it adds
    only the 1-row final shuffle. The ``checks.assert_*`` probes run
    only when a guard fails, to word the error, in the old order:
    empty, then NULL, then duplicate.
    """
    any_null = F.lit(False)
    for c in STAGING_NOT_NULL:
        any_null = any_null | F.col(c).isNull()
    rows, max_per_id, has_null = (
        df.groupBy("id")
        .agg(F.count("*").alias("n"), F.bool_or(any_null).alias("has_null"))
        .agg(F.sum("n"), F.max("n"), F.bool_or("has_null"))
        .collect()[0]
    )
    if not rows:
        checks.assert_non_empty(df, "transform result")  # P11
    if has_null:
        checks.assert_not_null(df, STAGING_NOT_NULL)
    if (max_per_id or 0) > 1:
        checks.assert_unique_key(df, ["id"])


def load_merge(
    target: DataFrame, batch: DataFrame
) -> tuple[DataFrame, MergeMetrics]:
    """A7: freshness-gated merge of a staged batch into the target
    (`sql/load/03_merge.sql:1-32`), returning audit metrics
    (`src/load/hn_load.py:105-120`)."""
    return merge_upsert(
        target, batch, keys=["id"], freshness_col="extracted_at"
    )


def _story_base(staging: DataFrame) -> DataFrame:
    """Shared mart base CTE: `sql/mart/02_marts.sql:18-19,69-70,104-105`
    — hand-placed predicate the reference repeats; Catalyst pushes it
    into the parquet scan here."""
    return staging.where(
        (F.col("type") == "story") & F.col("time_utc").isNotNull()
    )


def mart_daily_story_metrics(staging: DataFrame) -> DataFrame:
    """A1: `sql/mart/02_marts.sql:9-46` → daily_story_metrics."""
    base = _story_base(staging)
    score = coalesce_default("score", 0)
    comments = coalesce_default("descendants", 0)
    return base.groupBy(
        to_metric_date("time_utc").alias("metric_date")
    ).agg(
        F.count("*").cast("int").alias("stories_count"),
        F.sum(score).cast("long").alias("total_score"),
        money2(F.avg(score)).alias("avg_score"),
        F.sum(comments).cast("long").alias("total_comments"),
        money2(F.avg(comments)).alias("avg_comments"),
        F.max("extracted_at").alias("last_batch_extracted_at"),
    )


def mart_top_domains_daily(staging: DataFrame) -> DataFrame:
    """A2: `sql/mart/02_marts.sql:49-90` → top_domains_daily."""
    base = _story_base(staging)
    return base.groupBy(
        to_metric_date("time_utc").alias("metric_date"),
        domain_from_url("url").alias("domain"),
    ).agg(
        F.count("*").cast("int").alias("stories_count"),
        money2(F.avg(coalesce_default("score", 0))).alias("avg_score"),
        F.max("extracted_at").alias("last_batch_extracted_at"),
    )


def mart_user_activity_daily(staging: DataFrame) -> DataFrame:
    """A3: `sql/mart/02_marts.sql:93-125` → user_activity_daily."""
    base = _story_base(staging)
    return base.groupBy(
        to_metric_date("time_utc").alias("metric_date"),
        coalesce_default("by", "(unknown)").alias("author"),
    ).agg(
        F.count("*").cast("int").alias("stories_count"),
        money2(F.avg(coalesce_default("score", 0))).alias("avg_score"),
        F.max("extracted_at").alias("last_batch_extracted_at"),
    )


MARTS = {
    "daily_story_metrics": mart_daily_story_metrics,
    "top_domains_daily": mart_top_domains_daily,
    "user_activity_daily": mart_user_activity_daily,
}


def build_marts(staging: DataFrame) -> dict[str, DataFrame]:
    """All three marts from one staging frame (full refresh,
    `sql/mart/02_marts.sql:3-5`). Publish atomically with
    sources/publish.py to preserve the single-transaction semantics
    of `src/mart/hn_mart.py:59-74`."""
    return {name: fn(staging) for name, fn in MARTS.items()}


MART_KEYS = {
    "daily_story_metrics": ["metric_date"],
    "top_domains_daily": ["metric_date", "domain"],
    "user_activity_daily": ["metric_date", "author"],
}


def run_mart_checks(
    staging: DataFrame, marts: dict[str, DataFrame]
) -> dict[str, list]:
    """`sql/mart/03_checks.sql:1-27` as validators: per-mart summary
    rows (UNION ALL shape), last-day row count (CTE+join shape), and
    PK-duplicate probes (expected empty).

    Every answer comes from ONE ``unionByName`` query, one row per
    mart plus one last-day row:
      * a mart's ``row_count`` and ``count_distinct(struct(keys))``;
        the keys are unique iff the two agree, and only a mart where
        they differ runs ``checks.assert_unique_key`` to word the
        failure (struct equality treats NULL fields as equal, the same
        grouping ``duplicate_keys`` uses);
      * the last-day user rows as ``max_by(n, metric_date)`` over the
        per-day counts of ``user_activity_daily`` (0 when it is empty).
    """
    per_mart = [
        marts[name].agg(
            F.lit(name).alias("check"),
            F.count("*").alias("row_count"),
            F.count_distinct(F.struct(*keys)).alias("n_keys"),
        )
        for name, keys in MART_KEYS.items()
    ]
    last_day = (
        marts["user_activity_daily"]
        .groupBy("metric_date")
        .agg(F.count("*").alias("n"))
        .agg(
            F.lit("last_day_user_rows").alias("check"),
            F.coalesce(F.max_by("n", "metric_date"), F.lit(0)).alias("n"),
        )
    )
    query = per_mart[0]
    for one in per_mart[1:] + [last_day]:
        query = query.unionByName(one, allowMissingColumns=True)
    got = {r["check"]: r for r in query.collect()}

    results = {
        "summaries": [
            Row(mart=name, row_count=got[name]["row_count"]) for name in MART_KEYS
        ],
        "last_day_user_rows": [Row(n=got["last_day_user_rows"]["n"])],
    }
    for name, keys in MART_KEYS.items():
        if got[name]["n_keys"] != got[name]["row_count"]:
            checks.assert_unique_key(marts[name], keys)
    return results


# ---------------------------------------------------------------------------
# Scale paths: date-partitioned staging layout + incremental mart
# refresh. The reference full-refreshes every mart from ALL staging
# rows (`sql/mart/02_marts.sql:3-5`) and lists "incremental MART
# updates" as an unticked roadmap item (`README.md:342`). At 100 TB a
# full refresh is a full-table scan per run; the incremental path
# rebuilds only the date partitions a batch touched.
# ---------------------------------------------------------------------------


def write_staging_partitioned(df: DataFrame, root: str) -> None:
    """Staging layout for scale: hive-partitioned by event date, rows
    sorted by ``id`` within files.

    This is the Spark re-expression of the reference's B-tree indexes
    (`sql/load/02_tmp.sql:18-19`, SURVEY.md §4.1 D3): partition
    pruning serves the time-range access path; the within-file sort
    gives parquet min/max row-group skipping on ``id`` lookups.
    """
    (
        df.withColumn("event_date", F.to_date("time_utc"))
        .repartition(F.col("event_date"))
        .sortWithinPartitions("id")
        .write.partitionBy("event_date")
        .mode("overwrite")
        .parquet(root)
    )


def affected_dates(batch: DataFrame) -> list:
    """Distinct metric dates a batch touches (tiny driver-side list)."""
    return [
        r.d
        for r in batch.select(to_metric_date("time_utc").alias("d"))
        .distinct()
        .collect()
    ]


def refresh_marts_incremental(
    staging: DataFrame, batch: DataFrame, marts_root: str
) -> list:
    """Rebuild ONLY the date partitions ``batch`` touches, via dynamic
    partition overwrite.

    Correctness: each mart groups by metric_date (+ dims), so a date
    partition depends only on staging rows of that date — rebuilding
    the touched dates from (pruned) staging equals the full refresh
    on those dates. Tradeoff vs the versioned-pointer publish: not
    atomic across tables/partitions; use the full publish for
    all-or-nothing semantics and this for high-frequency cheap
    refreshes.
    """
    dates = affected_dates(batch)
    if not dates:
        return []
    spark = staging.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        pruned = staging.where(to_metric_date("time_utc").isin(dates))
        for name, fn in MARTS.items():
            out = fn(pruned)
            (
                out.repartition(F.col("metric_date"))
                .write.partitionBy("metric_date")
                .mode("overwrite")
                .parquet(f"{marts_root}/{name}")
            )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return dates
