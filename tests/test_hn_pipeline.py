"""Golden tests for the HN pipeline parity layer (SURVEY.md §5).

Fixture design follows FIXTURES.md §A1: two raw batches with
overlapping ids, missing optional fields, null records, non-story
types, URL edge cases, and near-midnight timestamps.
"""

from __future__ import annotations

import datetime as dt
import decimal
import json

import pytest
from pyspark.sql import functions as F

from reddit_hn_etl_spark.operators.checks import CheckFailure
from reddit_hn_etl_spark.operators.merge import ACTION_COL, merge_resolve, merge_upsert
from reddit_hn_etl_spark.plans import hn_pipeline as hp
from reddit_hn_etl_spark.sources import batches

UTC = dt.timezone.utc

# epoch refs: 2024-01-15 23:59:30 UTC (near midnight) and neighbors
T1 = 1705363170  # 2024-01-15 23:59:30
T2 = 1705363230  # 2024-01-16 00:00:30 (next UTC day)
T3 = 1705276800  # 2024-01-15 00:00:00

BATCH1 = [
    {"id": 1, "type": "story", "by": "alice", "time": T1,
     "title": "First", "url": "https://News.YCombinator.com/item?id=1",
     "score": 10, "descendants": 2, "kids": [11, 12]},
    {"id": 2, "type": "story", "by": None, "time": T2, "title": "Second",
     "url": "HTTP://example.com/path/x", "score": 5},          # missing desc/kids
    {"id": 3, "type": "job", "by": "bob", "time": T3, "title": "Job post"},
    {"id": 4, "type": "story", "by": "carol", "time": T3, "title": "NoUrl"},
    None,                                                       # null record (P1)
    {"id": 4, "type": "story", "by": "carol", "time": T3, "title": "NoUrl-dup",
     "score": 7},                                               # in-file dup, keep last
    {"id": 5, "type": "story", "by": "dave", "time": T3, "title": "EmptyUrl",
     "url": "", "score": 3, "descendants": 1},
]

# batch 2: id=1 refreshed (newer), id=5 stale copy won't apply, id=6 new
BATCH2 = [
    {"id": 1, "type": "story", "by": "alice", "time": T1,
     "title": "First (edited)", "url": "https://news.ycombinator.com/item?id=1",
     "score": 42, "descendants": 7, "kids": [11, 12, 13]},
    {"id": 6, "type": "story", "by": "erin", "time": T2, "title": "Sixth",
     "url": "http://sub.Example.com/a/b", "score": 1},
]

BATCH1_TS = dt.datetime(2024, 1, 16, 1, 0, 0, tzinfo=UTC)
BATCH2_TS = dt.datetime(2024, 1, 16, 2, 0, 0, tzinfo=UTC)


@pytest.fixture(scope="module")
def raw_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("hn_raw")
    for recs, ts in ((BATCH1, BATCH1_TS), (BATCH2, BATCH2_TS)):
        path = d / f"hn_raw_{ts.strftime('%Y%m%d_%H%M%S')}.json"
        path.write_text(json.dumps(recs), encoding="utf-8")
    return str(d)


@pytest.fixture(scope="module")
def staging1(spark, raw_dir):
    path = sorted(__import__("glob").glob(raw_dir + "/*.json"))[0]
    ts = batches.parse_ts_from_raw_filename(path)
    assert ts == BATCH1_TS  # S8: filename → batch ts
    raw = batches.read_raw_batch(spark, path)
    return hp.transform_raw(raw, ts)


@pytest.fixture(scope="module")
def staging2(spark, raw_dir):
    path = batches.latest_file_by_name(raw_dir, "hn_raw_*.json")
    ts = batches.parse_ts_from_raw_filename(path)
    assert ts == BATCH2_TS  # S7: lexicographic latest
    raw = batches.read_raw_batch(spark, path)
    return hp.transform_raw(raw, ts)


def test_transform_shapes_and_defaults(staging1):
    rows = {r.id: r for r in staging1.collect()}
    # P1 null record dropped; A6 dedup: 5 distinct ids
    assert sorted(rows) == [1, 2, 3, 4, 5]
    # P3/P5 defaults: missing score/descendants → 0, missing url → None
    assert rows[3].score == 0 and rows[3].descendants == 0
    assert rows[4].url is None and rows[2].descendants == 0
    # P6 kids_count
    assert rows[1].kids_count == 2 and rows[2].kids_count == 0
    # P7 UTC day bucketing: T1 is Jan 15, T2 crosses to Jan 16
    assert rows[1].time_utc == dt.datetime(2024, 1, 15, 23, 59, 30)
    assert rows[2].time_utc == dt.datetime(2024, 1, 16, 0, 0, 30)
    # A6 keep-last within file: id=4 keeps the later record (score=7)
    assert rows[4].title == "NoUrl-dup" and rows[4].score == 7
    # P8 batch constant
    assert all(r.extracted_at == dt.datetime(2024, 1, 16, 1, 0) for r in rows.values())


def test_transform_schema_contract(staging1):
    assert [f.name for f in staging1.schema.fields] == list(hp.STAGING_COLS)
    hp.validate_staging(staging1)  # must not raise


def test_required_column_missing_fails(spark):
    bad = spark.createDataFrame([(1, "t")], "id long, title string")
    with pytest.raises(ValueError, match="missing required"):
        hp.transform_raw(bad, BATCH1_TS)


def test_empty_result_fails(spark, staging1):
    with pytest.raises(CheckFailure, match="0 rows"):
        hp.validate_staging(staging1.where(F.lit(False)))


def test_merge_freshness_and_metrics(staging1, staging2):
    merged, m = hp.load_merge(staging1, staging2)
    rows = {r.id: r for r in merged.collect()}
    # inserted: id 6; updated: id 1 (newer batch); kept: 2,3,4,5
    assert m.inserted == 1 and m.updated == 1 and m.kept == 4
    assert rows[1].score == 42 and rows[1].title == "First (edited)"
    assert rows[6].by == "erin"
    assert sorted(rows) == [1, 2, 3, 4, 5, 6]


def test_merge_idempotent(staging1, staging2):
    """Re-running the same batch converges: inserted=0, updated=0
    (`README.md:210-225` idempotency contract)."""
    merged, _ = hp.load_merge(staging1, staging2)
    merged2, m2 = hp.load_merge(merged, staging2)
    assert m2.inserted == 0 and m2.updated == 0
    assert merged2.count() == merged.count()


def test_merge_stale_batch_noop(staging1, staging2):
    """Freshness gate (`sql/load/03_merge.sql:27`): replaying an OLDER
    batch updates nothing (strictly-greater comparison)."""
    merged, _ = hp.load_merge(staging1, staging2)
    merged2, m2 = hp.load_merge(merged, staging1)  # staging1 is older
    assert m2.updated == 0 and m2.inserted == 0


@pytest.fixture(scope="module")
def marts(staging1, staging2):
    merged, _ = hp.load_merge(staging1, staging2)
    return hp.build_marts(merged)


def test_mart_daily_story_metrics(marts):
    rows = {str(r.metric_date): r for r in marts["daily_story_metrics"].collect()}
    # stories only (id 3 is a job): Jan15: ids 1(42),4(7),5(3); Jan16: 2(5),6(1)
    assert sorted(rows) == ["2024-01-15", "2024-01-16"]
    d15 = rows["2024-01-15"]
    assert d15.stories_count == 3
    assert d15.total_score == 52
    assert d15.avg_score == decimal.Decimal("17.33")
    assert d15.total_comments == 8  # 7 + 0 + 1
    d16 = rows["2024-01-16"]
    assert d16.stories_count == 2 and d16.total_score == 6
    assert d16.avg_score == decimal.Decimal("3.00")


def test_mart_top_domains(marts):
    rows = {(str(r.metric_date), r.domain): r for r in marts["top_domains_daily"].collect()}
    # F1-F4: lowercased, scheme stripped, host before first '/'
    assert ("2024-01-15", "news.ycombinator.com") in rows
    assert ("2024-01-16", "example.com") in rows          # HTTP:// uppercase scheme
    assert ("2024-01-16", "sub.example.com") in rows
    assert ("2024-01-15", "(no_domain)") in rows          # null + empty url
    assert rows[("2024-01-15", "(no_domain)")].stories_count == 2


def test_mart_user_activity_null_author(marts):
    rows = {(str(r.metric_date), r.author): r for r in marts["user_activity_daily"].collect()}
    assert ("2024-01-16", "(unknown)") in rows  # COALESCE(by,'(unknown)')
    assert rows[("2024-01-15", "alice")].stories_count == 1


def test_mart_checks_pass(staging1, staging2, marts):
    merged, _ = hp.load_merge(staging1, staging2)
    results = hp.run_mart_checks(merged, marts)
    assert {r.mart for r in results["summaries"]} == set(hp.MARTS)
    assert results["last_day_user_rows"][0].n == 2


# --- validate_staging: one fused guard aggregate, same failures --------------


def test_null_in_not_null_column_fails(staging1):
    bad = staging1.withColumn(
        "title", F.when(F.col("id") == 2, None).otherwise(F.col("title"))
    )
    with pytest.raises(CheckFailure, match="NULL in NOT NULL"):
        hp.validate_staging(bad)


def test_duplicate_id_fails(staging1):
    with pytest.raises(CheckFailure, match=r"duplicate keys \['id'\]"):
        hp.validate_staging(staging1.unionByName(staging1.where(F.col("id") == 3)))


def test_null_reported_before_duplicate(staging1):
    """The old probe order holds: a frame with both a NULL and a
    duplicate id fails on the NULL."""
    dup = staging1.unionByName(staging1.where(F.col("id") == 3))
    bad = dup.withColumn(
        "title", F.when(F.col("id") == 5, None).otherwise(F.col("title"))
    )
    with pytest.raises(CheckFailure, match="NULL in NOT NULL"):
        hp.validate_staging(bad)


# --- merge_upsert: metrics ride the materializing job -----------------------


def _by_action(resolved):
    """(rows, counts) per action of ``merge_resolve(keep_action=True)``."""
    rows = resolved.collect()
    counts = {a: 0 for a in ("inserted", "updated", "kept")}
    for r in rows:
        counts[r[ACTION_COL]] += 1
    data = sorted(tuple(v for k, v in r.asDict().items() if k != ACTION_COL) for r in rows)
    return data, counts


@pytest.mark.parametrize("case", ["fixture", "empty_target", "empty_source", "both_empty"])
def test_merge_upsert_matches_resolve(spark, staging1, staging2, case):
    empty = staging1.where(F.lit(False))
    target, source = {
        "fixture": (staging1, staging2),
        "empty_target": (empty, staging2),
        "empty_source": (staging1, empty),
        "both_empty": (empty, empty),
    }[case]
    args = dict(keys=["id"], freshness_col="extracted_at")
    want_rows, want = _by_action(merge_resolve(target, source, keep_action=True, **args))
    spark.catalog.clearCache()  # the session is shared; start from an empty cache
    merged, m = merge_upsert(target, source, **args)
    assert (m.inserted, m.updated, m.kept) == (want["inserted"], want["updated"], want["kept"])
    assert sorted(tuple(r) for r in merged.collect()) == want_rows
    # localCheckpoint, not persist: nothing is left in the CacheManager
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _jobs(spark, group, fn):
    """Run ``fn`` under a fresh job group; return its result and the
    number of Spark jobs it submitted."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_landing_job_counts(spark, staging1, staging2):
    """Jobs per call on the fixture (ROADMAP D4). Before the guards,
    the merge metrics and the mart checks were each fused into one
    query, the same calls submitted: validate_staging 6, merge_upsert 7
    (and the caller's first action then recomputed the join),
    run_mart_checks 18."""
    _, n_validate = _jobs(spark, "jobs_validate", lambda: hp.validate_staging(staging2))
    (merged, _), n_merge = _jobs(spark, "jobs_merge", lambda: hp.load_merge(staging1, staging2))
    # marts over a materialized frame, so only the checks' own jobs count
    marts = hp.build_marts(merged.localCheckpoint())
    _, n_checks = _jobs(spark, "jobs_mart_checks", lambda: hp.run_mart_checks(merged, marts))
    assert (n_validate, n_merge, n_checks) == (3, 5, 12)


def test_mart_checks_planted_duplicate_key(staging1, staging2, marts):
    merged, _ = hp.load_merge(staging1, staging2)
    daily = marts["daily_story_metrics"]
    planted = dict(marts, daily_story_metrics=daily.unionByName(daily.limit(1)))
    with pytest.raises(CheckFailure, match=r"duplicate keys \['metric_date'\]"):
        hp.run_mart_checks(merged, planted)
