"""applyInPandasWithState: running totals accumulate across
micro-batches through the state store."""

from __future__ import annotations
import pytest

import json

from reddit_hn_etl_spark.streaming import ingest


def _write_events_jsonl(path, rows):
    with open(path, "w", encoding="utf-8") as f:
        for event_id, ts, user_id, value in rows:
            f.write(json.dumps({
                "event_id": event_id, "ts": ts, "user_id": user_id,
                "event_type": "view", "value": value, "props": "{}",
            }) + "\n")


def test_running_totals_across_batches(spark, tmp_path):
    src = tmp_path / "events_stream"
    src.mkdir()
    out = tmp_path / "out"
    ckpt = str(tmp_path / "ckpt")

    _write_events_jsonl(src / "b1.jsonl", [
        (1, "2024-01-01 10:00:00", 7, 1.5),
        (2, "2024-01-01 10:05:00", 7, 2.5),
        (3, "2024-01-01 10:06:00", 8, 10.0),
    ])

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        ).option("maxFilesPerTrigger", 1).json(str(src))
    )
    totals = ingest.running_user_totals(stream)

    def sink(batch_df, batch_id):
        # update-mode stream → append each batch's emissions (the
        # standard foreachBatch pattern for update streams on
        # append-only sinks)
        batch_df.write.mode("append").parquet(str(out))

    def run_once():
        q = (totals.writeStream.foreachBatch(sink)
             .option("checkpointLocation", ckpt)
             .outputMode("update")
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    run_once()

    # batch 2 arrives: user 7 gains one more event
    _write_events_jsonl(src / "b2.jsonl", [
        (4, "2024-01-01 11:00:00", 7, 6.0),
    ])
    run_once()

    rows = spark.read.parquet(str(out)).collect()
    # per-key latest emission = cumulative across both micro-batches
    latest = {}
    for r in rows:
        if r.user_id not in latest or r.n_events > latest[r.user_id].n_events:
            latest[r.user_id] = r
    assert latest[7].n_events == 3 and abs(latest[7].total_value - 10.0) < 1e-9
    assert latest[8].n_events == 1 and abs(latest[8].total_value - 10.0) < 1e-9
    assert str(latest[7].last_ts) == "2024-01-01 11:00:00"


def test_dedup_within_watermark(spark, tmp_path):
    src = tmp_path / "dupstream"
    src.mkdir()
    out = tmp_path / "dedup_out"
    ckpt = str(tmp_path / "dedup_ckpt")

    _write_events_jsonl(src / "b1.jsonl", [
        (1, "2024-01-01 10:00:00", 7, 1.0),
        (1, "2024-01-01 10:00:30", 7, 1.0),   # dup event_id within watermark
        (2, "2024-01-01 10:01:00", 8, 2.0),
    ])
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        ).json(str(src))
    )
    from reddit_hn_etl_spark.streaming.ingest import dedup_stream_within_watermark

    deduped = dedup_stream_within_watermark(stream, ["event_id"])
    q = (deduped.writeStream.format("parquet")
         .option("path", str(out)).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    rows = spark.read.parquet(str(out)).collect()
    assert sorted(r.event_id for r in rows) == [1, 2]  # dup dropped


def test_late_data_dropped_by_watermark(spark, tmp_path):
    """Watermark semantics: once the watermark has advanced past a
    window, a late row targeting it is dropped from the windowed agg
    (bounded state; the late row must NOT resurrect the closed window
    in append mode)."""
    src = tmp_path / "latestream"
    src.mkdir()
    out = tmp_path / "late_out"
    ckpt = str(tmp_path / "late_ckpt")

    from reddit_hn_etl_spark.streaming.ingest import windowed_event_counts

    def run_once():
        stream = spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        ).option("maxFilesPerTrigger", 1).json(str(src))
        win = windowed_event_counts(
            stream, window="1 hour", watermark="30 minutes"
        )
        q = (win.writeStream.format("parquet")
             .option("path", str(out)).option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    # batch 1: events in the 10:00 window, max ts 14:00 → watermark
    # after batch ≈ 13:30, so the 10:00-11:00 window is closed+emitted
    _write_events_jsonl(src / "b1.jsonl", [
        (1, "2024-01-01 10:05:00", 1, 1.0),
        (2, "2024-01-01 10:20:00", 1, 1.0),
        (3, "2024-01-01 14:00:00", 1, 1.0),
    ])
    run_once()
    # batch 2: a LATE row for the closed 10:00 window + a fresh row
    _write_events_jsonl(src / "b2.jsonl", [
        (4, "2024-01-01 10:30:00", 1, 1.0),   # late: beyond watermark
        (5, "2024-01-01 15:00:00", 1, 1.0),
    ])
    run_once()

    rows = {str(r.window_start): r.events_count
            for r in spark.read.parquet(str(out)).collect()}
    # the 10:00 window emitted exactly once with 2 events; the late
    # row (event 4) did not create a duplicate/updated emission
    assert rows.get("2024-01-01 10:00:00") == 2


def test_stream_stream_interval_join(spark, tmp_path):
    """Stream-stream join with watermarks: right events within the
    interval pair up; out-of-interval events don't; results match the
    identical batch-mode join (same code path, no state)."""
    import json

    lsrc = tmp_path / "purchases"
    rsrc = tmp_path / "errors"
    lsrc.mkdir(); rsrc.mkdir()
    out = tmp_path / "joined"
    ckpt = str(tmp_path / "ckpt_ss")

    with open(lsrc / "l1.jsonl", "w", encoding="utf-8") as f:
        for uid, ts in [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:00:00")]:
            f.write(json.dumps({"user_id": uid, "l_ts": ts}) + "\n")
    with open(rsrc / "r1.jsonl", "w", encoding="utf-8") as f:
        for uid, ts in [
            (1, "2024-01-01 10:10:00"),   # within 15m of user 1 purchase
            (1, "2024-01-01 11:00:00"),   # outside the interval
            (2, "2024-01-01 09:59:00"),   # before the purchase → no match
        ]:
            f.write(json.dumps({"user_id": uid, "r_ts": ts}) + "\n")

    lstream = spark.readStream.schema("user_id long, l_ts timestamp").json(str(lsrc))
    rstream = spark.readStream.schema("user_id long, r_ts timestamp").json(str(rsrc))
    joined = ingest.interval_join_streams(lstream, rstream)
    q = (joined.writeStream.format("parquet")
         .option("path", str(out)).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {(r.user_id, str(r.l_ts), str(r.r_ts))
           for r in spark.read.parquet(str(out)).collect()}
    assert got == {(1, "2024-01-01 10:00:00", "2024-01-01 10:10:00")}

    # Batch-mode equivalence: same operator, batch frames.
    lb = spark.read.schema("user_id long, l_ts timestamp").json(str(lsrc))
    rb = spark.read.schema("user_id long, r_ts timestamp").json(str(rsrc))
    batch = {(r.user_id, str(r.l_ts), str(r.r_ts))
             for r in ingest.interval_join_streams(lb, rb).collect()}
    assert batch == got


def test_stream_static_enrichment(spark, tmp_path):
    """Stream-static join: each micro-batch joins against a static
    dimension frame (broadcast — no stateful shuffle, no watermark
    needed; the canonical streaming enrichment). Unmatched stream
    rows survive with NULLs under a left join."""
    raw = tmp_path / "raw"
    raw.mkdir()
    with open(raw / "e1.jsonl", "w", encoding="utf-8") as f:
        for rec in (
            {"id": 1, "type": "story", "by": "a", "time": 1705276800},
            {"id": 2, "type": "comment", "by": "b", "time": 1705276860},
            {"id": 3, "type": "poll", "by": "c", "time": 1705276920},
        ):
            f.write(json.dumps(rec) + "\n")
    dim = spark.createDataFrame(
        [("story", "content"), ("comment", "reaction")],
        "type string, category string",
    )

    from pyspark.sql import functions as F
    from reddit_hn_etl_spark.streaming.ingest import read_raw_stream

    enriched = read_raw_stream(spark, str(raw)).join(
        F.broadcast(dim), on="type", how="left"
    )
    out: list = []
    q = (
        enriched.writeStream.foreachBatch(
            lambda df, _bid: out.extend(
                df.select("id", "type", "category").collect()
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {r.id: r.category for r in out}
    assert got == {1: "content", 2: "reaction", 3: None}


def test_curate_doc_stream_quality_and_dedup(spark, tmp_path):
    """Streaming corpus intake: junk filtered, exact dups (by
    normalized content, across different doc_ids) deduped within the
    watermark, survivors annotated."""
    import json

    from reddit_hn_etl_spark.streaming import ingest

    good = ("the quick brown fox jumps over the lazy dog and runs to "
            "the river bank in the morning sun with a happy grin")
    src = tmp_path / "docs"
    src.mkdir()
    rows = [
        {"doc_id": 1, "ts": "2024-01-01T10:00:00", "text": good},
        # same content modulo case/whitespace → same fingerprint
        {"doc_id": 2, "ts": "2024-01-01T10:01:00",
         "text": "  " + good.upper() + "  "},
        {"doc_id": 3, "ts": "2024-01-01T10:02:00", "text": "!!! ??? ***"},
        {"doc_id": 4, "ts": "2024-01-01T10:03:00",
         "text": "spark dataframes shuffle partitions and the optimizer "
                 "prunes columns while the executor pipelines operators"},
    ]
    (src / "batch.jsonl").write_text(
        "\n".join(json.dumps(r) for r in rows), encoding="utf-8"
    )
    stream = (
        spark.readStream.schema("doc_id long, ts timestamp, text string")
        .json(str(src))
    )
    curated = ingest.curate_doc_stream(stream)
    q = (
        curated.writeStream.format("memory").queryName("curated_docs")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    out = {r.doc_id: r for r in spark.sql(
        "SELECT * FROM curated_docs"
    ).collect()}
    assert sorted(out) == [1, 4]        # 2 = dup of 1, 3 = junk
    assert out[1].quality_score >= 0.5
    assert len(out[1].fingerprint) == 32


def test_ema_stream_matches_batch_fold(spark, tmp_path):
    # The streaming EMA must be BIT-identical to the batch
    # ema_per_key when micro-batches arrive in time order: same
    # recurrence, same float expression, state store carrying acc.
    from reddit_hn_etl_spark.operators.sequential import ema_per_key

    rows = [
        (1, "2024-01-01 10:00:00", 7, 1.5),
        (2, "2024-01-01 10:05:00", 7, 2.75),
        (3, "2024-01-01 10:06:00", 8, 10.0),
        (4, "2024-01-01 11:00:00", 7, 6.125),
        (5, "2024-01-01 11:30:00", 8, 0.25),
        (6, "2024-01-01 12:00:00", 7, 3.5),
    ]
    src = tmp_path / "ema_stream"
    src.mkdir()
    out = tmp_path / "ema_out"
    ckpt = str(tmp_path / "ema_ckpt")
    # three time-ordered micro-batches. FileStreamSource orders new
    # files by MODIFICATION TIME, not name — files written in the
    # same millisecond arrive in arbitrary order, so pin distinct
    # mtimes explicitly (the flake showed up as b3 before b2).
    import os as _os
    import time as _time

    base_t = _time.time() - 100
    for i, chunk in enumerate((rows[:2], rows[2:4], rows[4:])):
        p = src / f"b{i + 1}.jsonl"
        _write_events_jsonl(p, chunk)
        _os.utime(p, (base_t + 10 * i, base_t + 10 * i))

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        ).option("maxFilesPerTrigger", 1).json(str(src))
    )
    ema = ingest.ema_stream(stream, alpha=0.25)

    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(str(out))

    q = (ema.writeStream.foreachBatch(sink)
         .option("checkpointLocation", ckpt)
         .outputMode("update")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    latest = {}
    for r in spark.read.parquet(str(out)).collect():
        if r.user_id not in latest or r.n_seen > latest[r.user_id].n_seen:
            latest[r.user_id] = r

    batch_df = spark.createDataFrame(
        [(e, ts, u, v) for e, ts, u, v in rows],
        "event_id long, ts string, user_id long, value double",
    ).selectExpr("event_id", "CAST(ts AS TIMESTAMP) ts", "user_id", "value")
    final = {}
    for r in ema_per_key(
        batch_df, "user_id", ("ts", "event_id"), "value", alpha=0.25
    ).collect():
        if r.user_id not in final or r.event_id > final[r.user_id][0]:
            final[r.user_id] = (r.event_id, r.ema)

    assert latest[7].n_seen == 4 and latest[8].n_seen == 2
    assert latest[7].ema == final[7][1]  # bit-exact
    assert latest[8].ema == final[8][1]


def test_zscore_stream_matches_batch_query(spark, tmp_path, sf_dir):
    """Streaming rolling z-score == the batch `rolling_zscore_anomalies`
    query on the REAL events table when micro-batches arrive in time
    order: same integer-cents window, same float expression order."""
    import os as _os
    import time as _time

    from reddit_hn_etl_spark.plans.queries import QUERIES
    from reddit_hn_etl_spark.sources.tables import read_table

    rows = sorted(
        (
            (r.event_id, r.ts, r.user_id, r.value)
            for r in read_table(spark, sf_dir, "events").collect()
        ),
        key=lambda t: (t[1], t[0]),
    )
    src = tmp_path / "z_stream"
    src.mkdir()
    out = tmp_path / "z_out"
    ckpt = str(tmp_path / "z_ckpt")
    third = (len(rows) + 2) // 3
    base_t = _time.time() - 100
    for i in range(3):
        chunk = rows[i * third : (i + 1) * third]
        p = src / f"b{i + 1}.jsonl"
        _write_events_jsonl(
            p,
            [
                (e, ts.isoformat(sep=" "), u, v)
                for e, ts, u, v in chunk
            ],
        )
        _os.utime(p, (base_t + 10 * i, base_t + 10 * i))

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        ).option("maxFilesPerTrigger", 1).json(str(src))
    )
    anomalies = ingest.zscore_stream(stream)

    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(str(out))

    q = (
        anomalies.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r.user_id, r.event_id): (r.window_n, r.zscore)
        for r in spark.read.parquet(str(out)).collect()
    }
    want = {
        (r.user_id, r.event_id): (r.window_n, r.zscore)
        for r in QUERIES["rolling_zscore_anomalies"](spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    assert len(got) > 0  # non-vacuous on the real table
    for k, (n_s, z_s) in got.items():
        n_b, z_b = want[k]
        assert n_s == n_b, k
        # batch emits ROUND(z, 4); the streaming z is unrounded
        assert abs(z_s - z_b) <= 5.001e-5, (k, z_s, z_b)


def test_sequence_pattern_stream_matches_batch(spark, tmp_path, sf_dir):
    """Streaming A<B<C chain detection == the batch
    event_sequence_funnel query on the REAL events table when
    micro-batches arrive in time order (O(1) chain state per key)."""
    import json as _json
    import os as _os
    import time as _time

    from reddit_hn_etl_spark.plans.queries import QUERIES
    from reddit_hn_etl_spark.sources.tables import read_table

    rows = sorted(
        (
            (r.event_id, r.ts, r.user_id, r.event_type, r.value)
            for r in read_table(spark, sf_dir, "events").collect()
        ),
        key=lambda t: (t[1], t[0]),
    )
    src = tmp_path / "seq_stream"
    src.mkdir()
    out = tmp_path / "seq_out"
    ckpt = str(tmp_path / "seq_ckpt")
    third = (len(rows) + 2) // 3
    base_t = _time.time() - 100
    for i in range(3):
        p = src / f"b{i + 1}.jsonl"
        with open(p, "w", encoding="utf-8") as f:
            for e, ts, u, et, v in rows[i * third : (i + 1) * third]:
                f.write(_json.dumps({
                    "event_id": e, "ts": ts.isoformat(sep=" "),
                    "user_id": u, "event_type": et, "value": v,
                    "props": "{}",
                }) + "\n")
        _os.utime(p, (base_t + 10 * i, base_t + 10 * i))

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        ).option("maxFilesPerTrigger", 1).json(str(src))
    )
    chains = ingest.sequence_pattern_stream(stream)

    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(str(out))

    q = (
        chains.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r.user_id, r.first_ts, r.second_ts, r.third_ts, r.span_micros)
        for r in spark.read.parquet(str(out)).collect()
    }
    want = {
        (r.user_id, r.first_ts, r.second_ts, r.third_ts, r.span_micros)
        for r in QUERIES["event_sequence_funnel"](spark, sf_dir).collect()
    }
    assert len(want) > 0
    assert got == want


def test_kmeans_assign_stream_matches_batch(spark, tmp_path, sf_dir):
    """Stateless cluster routing: the streaming plan must produce the
    exact batch assignment for every vector (same operator, no state,
    no watermark)."""
    from reddit_hn_etl_spark.operators import kmeans
    from reddit_hn_etl_spark.sources.tables import read_table

    emb = read_table(spark, sf_dir, "embeddings").limit(200)
    cents = kmeans.seeded_centroids(64, 8, seed=11)
    expected = {
        r["vec_id"]: (r["cluster_id"], r["dist_sq"])
        for r in kmeans.assign(emb, cents).collect()
    }

    src = tmp_path / "vecs"
    src.mkdir()
    emb.coalesce(1).write.parquet(str(src / "b1"))
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "b1"))
    )
    out: dict[int, tuple] = {}

    def sink(batch_df, batch_id):
        for r in batch_df.collect():
            out[r["vec_id"]] = (r["cluster_id"], r["dist_sq"])

    q = (
        ingest.kmeans_assign_stream(stream, cents)
        .select("vec_id", "cluster_id", "dist_sq")
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_km"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert out == expected


def test_heavy_hitters_stream_bounds_and_replay(spark, tmp_path):
    """Per-batch MG summaries appended to storage: merged estimates
    obey est <= exact <= est + N/(k+1) for every stored item, the
    planted hot key is present, and re-running the stream on the same
    checkpoint (no new data) changes nothing."""
    import json as _json

    from reddit_hn_etl_spark.streaming.ingest import (
        heavy_hitters_stream,
        merged_heavy_hitters,
    )

    src = tmp_path / "hh_src"
    src.mkdir()
    rows, rid = [], 0
    exact: dict[int, int] = {}
    for b in range(3):
        batch = []
        for i in range(300):
            uid = -1 if i % 3 == 0 else (b * 40 + i % 40)
            batch.append(uid)
            exact[uid] = exact.get(uid, 0) + 1
        with open(src / f"b{b}.jsonl", "w") as f:
            for uid in batch:
                f.write(_json.dumps({"rid": rid, "user_id": uid}) + "\n")
                rid += 1

    stream = (
        spark.readStream.schema("rid long, user_id long")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    sdir, ckpt = str(tmp_path / "hh_summary"), str(tmp_path / "hh_ckpt")
    q = heavy_hitters_stream(stream, "user_id", sdir, ckpt, k=16)
    q.awaitTermination(120)

    n_total = sum(exact.values())
    bound = n_total / (16 + 1)
    merged = {
        r["user_id"]: r["est"]
        for r in merged_heavy_hitters(spark, sdir, "user_id").collect()
    }
    assert -1 in merged  # hot key (1/3 of the stream) must be present
    for uid, est in merged.items():
        assert est <= exact[uid] <= est + bound
    # every key with exact > bound is present
    for uid, c in exact.items():
        if c > bound:
            assert uid in merged

    # replay: same checkpoint, no new files -> summary unchanged
    q2 = heavy_hitters_stream(
        (spark.readStream.schema("rid long, user_id long")
         .option("maxFilesPerTrigger", 1).json(str(src))),
        "user_id", sdir, ckpt, k=16,
    )
    q2.awaitTermination(120)
    merged2 = {
        r["user_id"]: r["est"]
        for r in merged_heavy_hitters(spark, sdir, "user_id").collect()
    }
    assert merged2 == merged


@pytest.mark.exhaustive
def test_stream_stream_outer_join_emits_after_eviction(spark, tmp_path):
    """left_outer: a purchase with no error inside its interval emits
    (user, l_ts, NULL) only after the watermark passes its horizon
    — proven absence, not premature absence. Later files on BOTH
    streams advance the watermark far enough; mtimes are pinned
    (FileStreamSource orders by mtime)."""
    import json
    import os as _os

    lsrc = tmp_path / "po"; rsrc = tmp_path / "eo"
    lsrc.mkdir(); rsrc.mkdir()
    out = tmp_path / "joined_outer"
    ckpt = str(tmp_path / "ckpt_sso")

    def write(path, rows, col, mtime):
        with open(path, "w", encoding="utf-8") as f:
            for uid, ts in rows:
                f.write(json.dumps({"user_id": uid, col: ts}) + "\n")
        _os.utime(path, (mtime, mtime))

    # batch 1: two purchases; one matching error for user 1 only
    write(lsrc / "l1.jsonl",
          [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:00:00")],
          "l_ts", 1_000)
    write(rsrc / "r1.jsonl", [(1, "2024-01-01 10:10:00")], "r_ts", 1_000)
    # batch 2: far-future rows push the min-watermark past
    # 10:15 + 1h on both sides (these also pair with each other)
    write(lsrc / "l2.jsonl", [(9, "2024-01-01 14:00:00")], "l_ts", 2_000)
    write(rsrc / "r2.jsonl", [(9, "2024-01-01 14:01:00")], "r_ts", 2_000)
    # batch 3: push further so batch-2's left row also ages out
    write(lsrc / "l3.jsonl", [(8, "2024-01-01 20:00:00")], "l_ts", 3_000)
    write(rsrc / "r3.jsonl", [(8, "2024-01-01 23:00:00")], "r_ts", 3_000)

    def run():
        lstream = (spark.readStream.schema("user_id long, l_ts timestamp")
                   .option("maxFilesPerTrigger", 1).json(str(lsrc)))
        rstream = (spark.readStream.schema("user_id long, r_ts timestamp")
                   .option("maxFilesPerTrigger", 1).json(str(rsrc)))
        joined = ingest.interval_join_streams(
            lstream, rstream, how="left_outer")
        q = (joined.writeStream.format("parquet")
             .option("path", str(out)).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(180)

    run()
    got = {(r.user_id, str(r.l_ts), r.r_ts and str(r.r_ts))
           for r in spark.read.parquet(str(out)).collect()}
    # matched rows always present
    assert (1, "2024-01-01 10:00:00", "2024-01-01 10:10:00") in got
    assert (9, "2024-01-01 14:00:00", "2024-01-01 14:01:00") in got
    # user 2: no error in [10:00, 10:15]; watermark passed its
    # horizon -> NULL-right row emitted
    assert (2, "2024-01-01 10:00:00", None) in got
    # user 8's 23:00 error is outside [20:00, 20:15] but its row is
    # at the stream tail: the watermark cannot pass its horizon yet,
    # so its absence is NOT yet declared
    assert not any(u == 8 for u, _, _ in got)

    # batch-mode equivalence of the SAME operator (no watermark
    # gating in batch: user 8's NULL row appears immediately)
    lb = spark.read.schema("user_id long, l_ts timestamp").json(str(lsrc))
    rb = spark.read.schema("user_id long, r_ts timestamp").json(str(rsrc))
    batch = {(r.user_id, str(r.l_ts), r.r_ts and str(r.r_ts))
             for r in ingest.interval_join_streams(
                 lb, rb, how="left_outer").collect()}
    assert batch == got | {(8, "2024-01-01 20:00:00", None)}


def test_distinct_users_sketch_stream_accuracy_and_replay(spark, tmp_path, sf_dir):
    """Per-batch HLL partials over the REAL events table split into 3
    micro-batch files: merged estimates within 5% of exact per-day
    distincts, and a checkpointed re-run changes nothing."""
    from pyspark.sql import functions as F

    from reddit_hn_etl_spark.sources.tables import read_table
    from reddit_hn_etl_spark.streaming.ingest import (
        distinct_users_sketch_stream,
        merged_distinct_users,
    )

    ev = read_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    src = tmp_path / "ev_parts"
    for i in range(3):
        ev.where(F.col("event_id") % 3 == i).coalesce(1).write.parquet(
            str(src / f"p{i}")
        )
        # FileStreamSource orders by mtime — pin it
        import os as _os
        for root, _, files in _os.walk(src / f"p{i}"):
            for f in files:
                _os.utime(_os.path.join(root, f), (1000 + i, 1000 + i))

    stream = (
        spark.readStream.schema("event_id long, user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "p*"))
    )
    sdir, ckpt = str(tmp_path / "hll_sum"), str(tmp_path / "hll_ckpt")
    q = distinct_users_sketch_stream(stream, sdir, ckpt)
    q.awaitTermination(180)

    exact = {
        r["day"]: r["n"]
        for r in ev.groupBy(F.to_date("ts").alias("day"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    got = {
        r["day"]: r["distinct_users"]
        for r in merged_distinct_users(spark, sdir).collect()
    }
    assert set(got) == set(exact)
    for day, n in exact.items():
        assert abs(got[day] - n) <= max(2, 0.05 * n), (day, got[day], n)

    q2 = distinct_users_sketch_stream(
        (spark.readStream.schema("event_id long, user_id long, ts timestamp")
         .option("maxFilesPerTrigger", 1).parquet(str(src / "p*"))),
        sdir, ckpt,
    )
    q2.awaitTermination(180)
    got2 = {
        r["day"]: r["distinct_users"]
        for r in merged_distinct_users(spark, sdir).collect()
    }
    assert got2 == got


def test_constraint_report_stream_tracks_violations_per_batch(spark, tmp_path):
    """Three micro-batches, the middle one carrying planted
    violations: the stored history pins rule results to the batch
    that produced them, and a checkpointed re-run appends nothing."""
    import json as _json

    from pyspark.sql import functions as F

    from reddit_hn_etl_spark.streaming.ingest import (
        constraint_history,
        constraint_report_stream,
    )

    src = tmp_path / "cq_src"
    src.mkdir()
    batches = [
        [(1, 10.0), (2, 20.0)],
        [(3, -5.0), (4, 30.0), (5, None)],   # one negative, one NULL
        [(6, 40.0)],
    ]
    import os as _os
    for i, rows in enumerate(batches):
        path = src / f"b{i}.jsonl"
        with open(path, "w") as f:
            for rid, amt in rows:
                f.write(_json.dumps({"rid": rid, "amount": amt}) + "\n")
        _os.utime(path, (1000 + i, 1000 + i))

    rules = {"amount_positive": F.col("amount") > 0}

    def run():
        stream = (
            spark.readStream.schema("rid long, amount double")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = constraint_report_stream(
            stream, rules, str(tmp_path / "cq_rep"), str(tmp_path / "cq_ckpt")
        )
        q.awaitTermination(120)

    run()
    hist = {
        r["batch_id"]: (r["n_rows"], r["n_violations"], r["passed"])
        for r in constraint_history(spark, str(tmp_path / "cq_rep")).collect()
    }
    assert hist[0] == (2, 0, True)
    assert hist[1] == (3, 1, False)  # NULL passes, only -5 violates
    assert hist[2] == (1, 0, True)

    run()  # replay: no new batches, history unchanged
    hist2 = {
        r["batch_id"]: (r["n_rows"], r["n_violations"], r["passed"])
        for r in constraint_history(spark, str(tmp_path / "cq_rep")).collect()
    }
    assert hist2 == hist


def test_transform_with_state_matches_legacy_api(spark, tmp_path):
    """The Spark 4 transformWithStateInPandas twin emits the same
    cumulative rows as the applyInPandasWithState implementation on
    the same two-batch stream (state survives across batches in the
    RocksDB provider).

    Environment gate: the transformWithState protocol serializes its
    state-server messages with protobuf; without the `protobuf`
    package the driver worker cannot start (verified failure mode:
    STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE importing
    StateMessage_pb2), so the test skips rather than stubs."""
    import pytest

    pytest.importorskip(
        "google.protobuf",
        reason="transformWithState requires protobuf for its state "
        "protocol; not installed in this environment",
    )
    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    ingest.enable_tws(spark)
    try:
        src = tmp_path / "tws_stream"
        src.mkdir()
        out = tmp_path / "tws_out"
        ckpt = str(tmp_path / "tws_ckpt")

        _write_events_jsonl(src / "b1.jsonl", [
            (1, "2024-01-01 10:00:00", 7, 1.5),
            (2, "2024-01-01 10:05:00", 7, 2.5),
            (3, "2024-01-01 10:06:00", 8, 10.0),
        ])

        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, "
                "event_type string, value double, props string"
            ).option("maxFilesPerTrigger", 1).json(str(src))
        )
        totals = ingest.running_user_totals_tws(stream)

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(str(out))

        def run_once():
            q = (totals.writeStream.foreachBatch(sink)
                 .option("checkpointLocation", ckpt)
                 .outputMode("update")
                 .trigger(availableNow=True).start())
            q.awaitTermination(120)

        run_once()
        _write_events_jsonl(src / "b2.jsonl", [
            (4, "2024-01-01 11:00:00", 7, 6.0),
        ])
        run_once()

        rows = spark.read.parquet(str(out)).collect()
        latest = {}
        for r in rows:
            if (r.user_id not in latest
                    or r.n_events > latest[r.user_id].n_events):
                latest[r.user_id] = r
        assert latest[7].n_events == 3
        assert abs(latest[7].total_value - 10.0) < 1e-9
        assert str(latest[7].last_ts) == "2024-01-01 11:00:00"
        assert latest[8].n_events == 1
        assert abs(latest[8].total_value - 10.0) < 1e-9
    finally:
        if prev is not None:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
        else:
            spark.conf.unset(
                "spark.sql.streaming.stateStore.providerClass"
            )


@pytest.mark.exhaustive
def test_stream_stream_full_outer_interval_join(spark, tmp_path):
    """full_outer: BOTH sides' unmatched rows surface with NULLs —
    but only after the watermark proves no future partner can match
    (a late second batch advances event time past the horizon and
    flushes the absences)."""
    import json

    lsrc = tmp_path / "fo_purchases"
    rsrc = tmp_path / "fo_errors"
    lsrc.mkdir(); rsrc.mkdir()
    out = tmp_path / "fo_joined"
    ckpt = str(tmp_path / "ckpt_fo")

    with open(lsrc / "l1.jsonl", "w", encoding="utf-8") as f:
        for uid, ts in [(1, "2024-01-01 10:00:00"),
                        (2, "2024-01-01 10:00:00")]:   # 2: never matched
            f.write(json.dumps({"user_id": uid, "l_ts": ts}) + "\n")
    with open(rsrc / "r1.jsonl", "w", encoding="utf-8") as f:
        for uid, ts in [
            (1, "2024-01-01 10:10:00"),   # matches user 1
            (3, "2024-01-01 10:05:00"),   # right-only → NULL left
        ]:
            f.write(json.dumps({"user_id": uid, "r_ts": ts}) + "\n")

    def run_once():
        lstream = spark.readStream.schema(
            "user_id long, l_ts timestamp").json(str(lsrc))
        rstream = spark.readStream.schema(
            "user_id long, r_ts timestamp").json(str(rsrc))
        joined = ingest.interval_join_streams(
            lstream, rstream, watermark="30 minutes", how="full_outer"
        )
        q = (joined.writeStream.format("parquet")
             .option("path", str(out)).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    run_once()
    # advance event time far past every horizon on both sides
    with open(lsrc / "l2.jsonl", "w", encoding="utf-8") as f:
        f.write(json.dumps(
            {"user_id": 9, "l_ts": "2024-01-01 23:00:00"}) + "\n")
    with open(rsrc / "r2.jsonl", "w", encoding="utf-8") as f:
        f.write(json.dumps(
            {"user_id": 9, "r_ts": "2024-01-01 23:00:01"}) + "\n")
    run_once()

    got = {(r.user_id, str(r.l_ts), str(r.r_ts))
           for r in spark.read.parquet(str(out)).collect()}
    assert (1, "2024-01-01 10:00:00", "2024-01-01 10:10:00") in got
    assert (2, "2024-01-01 10:00:00", "None") in got      # left absence
    assert (3, "None", "2024-01-01 10:05:00") in got      # right absence
    assert (9, "2024-01-01 23:00:00", "2024-01-01 23:00:01") in got


def test_cms_stream_exactly_matches_batch_sketch(spark, tmp_path):
    """CMS cells are deterministic sums, so the streamed+merged
    sketch equals the one-shot batch sketch cell-for-cell — exact
    parity, not just shared bounds. Replay of a batch must not
    change a single cell."""
    import os

    from reddit_hn_etl_spark.operators.sketch import cms_table

    src = tmp_path / "cms_stream_src"
    src.mkdir()
    sketch_dir = str(tmp_path / "cms_sketches")
    ckpt = str(tmp_path / "cms_ckpt")

    _write_events_jsonl(src / "b1.jsonl", [
        (i, "2024-01-01 10:00:00", i % 5, 1.0) for i in range(40)
    ])
    _write_events_jsonl(src / "b2.jsonl", [
        (100 + i, "2024-01-01 11:00:00", i % 3, 1.0) for i in range(25)
    ])
    os.utime(src / "b1.jsonl", (1, 1))       # pin source order (mtime!)
    os.utime(src / "b2.jsonl", (2, 2))

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).json(str(src))
        )
        q = ingest.cms_stream(stream, "user_id", sketch_dir, ckpt)
        q.awaitTermination(120)

    run_once()
    run_once()  # no new data: must be a no-op

    merged = {
        (r.r, r.bucket): r.cnt
        for r in ingest.merged_cms(spark, sketch_dir).collect()
    }
    batch_df = spark.read.schema(schema).json(str(src))
    expect = {
        (r.r, r.bucket): r.cnt
        for r in cms_table(batch_df, "user_id").collect()
    }
    assert merged == expect

    # replay: duplicate one stored batch's rows (simulated retry) —
    # the (batch_id, r, bucket) dedup keeps cells unchanged
    stored = spark.read.parquet(sketch_dir)
    stored.limit(0).unionByName(
        stored.where("batch_id = 0")
    ).write.mode("append").parquet(sketch_dir)
    replayed = {
        (r.r, r.bucket): r.cnt
        for r in ingest.merged_cms(spark, sketch_dir).collect()
    }
    assert replayed == expect


@pytest.mark.exhaustive
def test_holt_winters_stream_matches_batch_fold(spark, tmp_path):
    # The streaming (level, trend) carry must be BIT-identical to the
    # batch holt_winters_per_key under in-order micro-batches.
    from reddit_hn_etl_spark.operators.sequential import holt_winters_per_key

    rows = [
        (1, "2024-01-01 10:00:00", 7, 1.5),
        (2, "2024-01-01 10:05:00", 7, 2.75),
        (3, "2024-01-01 10:06:00", 8, 10.0),
        (4, "2024-01-01 11:00:00", 7, 6.125),
        (5, "2024-01-01 11:30:00", 8, 0.25),
        (6, "2024-01-01 12:00:00", 7, 3.5),
    ]
    src = tmp_path / "hw_stream"
    src.mkdir()
    out = tmp_path / "hw_out"
    ckpt = str(tmp_path / "hw_ckpt")
    import os as _os
    import time as _time

    base_t = _time.time() - 100
    for i, chunk in enumerate((rows[:2], rows[2:4], rows[4:])):
        p = src / f"b{i + 1}.jsonl"
        _write_events_jsonl(p, chunk)
        _os.utime(p, (base_t + 10 * i, base_t + 10 * i))

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        ).option("maxFilesPerTrigger", 1).json(str(src))
    )
    hw = ingest.holt_winters_stream(stream, alpha=0.25, beta=0.125)

    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(str(out))

    q = (hw.writeStream.foreachBatch(sink)
         .option("checkpointLocation", ckpt)
         .outputMode("update")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    latest = {}
    for r in spark.read.parquet(str(out)).collect():
        if r.user_id not in latest or r.n_seen > latest[r.user_id].n_seen:
            latest[r.user_id] = r

    batch_df = spark.createDataFrame(
        [(e, ts, u, v) for e, ts, u, v in rows],
        "event_id long, ts string, user_id long, value double",
    ).selectExpr("event_id", "CAST(ts AS TIMESTAMP) ts", "user_id", "value")
    final = {}
    for r in holt_winters_per_key(
        batch_df, "user_id", ("ts", "event_id"), "value",
        alpha=0.25, beta=0.125,
    ).collect():
        if r.user_id not in final or r.event_id > final[r.user_id][0]:
            final[r.user_id] = (r.event_id, r.level, r.trend)

    assert latest[7].n_seen == 4 and latest[8].n_seen == 2
    for k in (7, 8):
        assert latest[k].level == final[k][1]  # bit-exact
        assert latest[k].trend == final[k][2]
        assert latest[k].forecast_next == final[k][1] + final[k][2]


def test_bloom_ingest_stream_first_seen_and_replay(spark, tmp_path):
    """Batch-2 keys that appeared in batch 1 screen as maybe_seen;
    brand-new keys screen unseen (zero false negatives means every
    repeat IS flagged); the merged filter equals the one-shot batch
    filter word-for-word, and re-running with no new data changes
    nothing (bit_or idempotence)."""
    import os

    from reddit_hn_etl_spark.operators.sketch import bloom_words

    src = tmp_path / "bloom_src"
    src.mkdir()
    words_dir = str(tmp_path / "bloom_words")
    verdicts_dir = str(tmp_path / "bloom_verdicts")
    ckpt = str(tmp_path / "bloom_ckpt")

    _write_events_jsonl(src / "b1.jsonl", [
        (i, "2024-01-01 10:00:00", i, 1.0) for i in range(30)
    ])
    _write_events_jsonl(src / "b2.jsonl", [
        (100 + i, "2024-01-01 11:00:00", i + 20, 1.0) for i in range(20)
    ])  # user_ids 20..39: 20..29 repeat batch 1, 30..39 are new
    os.utime(src / "b1.jsonl", (1, 1))
    os.utime(src / "b2.jsonl", (2, 2))

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).json(str(src))
        )
        q = ingest.bloom_ingest_stream(
            stream, "user_id", words_dir, verdicts_dir, ckpt
        )
        q.awaitTermination(120)

    run_once()
    merged_1 = {
        (r.word_idx, r.word)
        for r in ingest.merged_bloom_words(spark, words_dir).collect()
    }
    run_once()  # replay with no new data: merged filter unchanged
    merged_2 = {
        (r.word_idx, r.word)
        for r in ingest.merged_bloom_words(spark, words_dir).collect()
    }
    assert merged_1 == merged_2

    verdicts = spark.read.parquet(verdicts_dir).collect()
    by_batch: dict = {}
    for r in verdicts:
        by_batch.setdefault(r.batch_id, {})[r.user_id] = r.maybe_seen
    b1, b2 = by_batch[0], by_batch[1]
    assert not any(b1.values())  # empty filter: nothing seen
    for uid in range(20, 30):    # repeats: MUST flag (no false negatives)
        assert b2[uid]
    assert not all(b2[uid] for uid in range(30, 40))  # mostly unseen

    # one-shot batch filter over all keys == streamed merged filter
    batch_df = spark.read.schema(schema).json(str(src))
    expect = {
        (r.word_idx, r.word)
        for r in bloom_words(batch_df, "user_id").collect()
    }
    assert merged_2 == expect


def test_cdc_apply_stream_matches_batch_and_replays(spark, tmp_path):
    """Streaming CDC materialization equals the batch last-writer
    computation over all change rows; a key whose last op is D is
    invisible through read_cdc_state but resurrectable by a later U;
    replay with no new data leaves the state identical."""
    import os

    src = tmp_path / "cdc_src"
    src.mkdir()
    state_dir = str(tmp_path / "cdc_state")
    ckpt = str(tmp_path / "cdc_ckpt")

    # batch 1: inserts/updates for users 1..5
    _write_events_jsonl(src / "b1.jsonl", [
        (i, f"2024-01-01 10:00:{i:02d}", i % 5 + 1, float(i)) for i in range(10)
    ])
    # batch 2: user 1 deleted LAST; user 2 updated
    _write_events_jsonl(src / "b2.jsonl", [
        (100, "2024-01-01 11:00:00", 1, 7.0),
        (101, "2024-01-01 11:30:00", 1, 0.0),   # will map to D below
        (102, "2024-01-01 11:10:00", 2, 9.5),
    ])
    os.utime(src / "b1.jsonl", (1, 1))
    os.utime(src / "b2.jsonl", (2, 2))

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )

    def to_changes(df):
        from pyspark.sql import functions as F

        # op: event 101 is the delete; even event_ids insert, odd update
        op = (
            F.when(F.col("event_id") == 101, "D")
            .when(F.col("event_id") % 2 == 0, "I")
            .otherwise("U")
        )
        return df.select(
            "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
            "event_id",
            op.alias("op"),
            (F.col("value").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("cents"),
        )

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).json(str(src))
        )
        q = ingest.cdc_apply_stream(to_changes(stream), state_dir, ckpt)
        q.awaitTermination(120)

    run_once()
    got1 = {
        r.user_id: (r.op, r.cents)
        for r in ingest.read_cdc_state(spark, state_dir).collect()
    }
    run_once()  # replay: no change
    got2 = {
        r.user_id: (r.op, r.cents)
        for r in ingest.read_cdc_state(spark, state_dir).collect()
    }
    assert got1 == got2

    # batch recomputation over ALL change rows
    from pyspark.sql import Window, functions as F

    all_changes = to_changes(spark.read.schema(schema).json(str(src)))
    w = Window.partitionBy("user_id").orderBy(
        F.desc("us"), F.desc("event_id")
    )
    expect = {
        r.user_id: (r.op, r.cents)
        for r in all_changes.withColumn("_rn", F.row_number().over(w))
        .where((F.col("_rn") == 1) & (F.col("op") != "D"))
        .collect()
    }
    assert got1 == expect
    assert 1 not in got1          # deleted user invisible
    assert got1[2] == ("I", 950)  # 9.50 at 11:10 (event 102) wins for user 2


def test_holt_fixed_point_stream_matches_batch_fold(spark, tmp_path):
    # The int64 (level_fp, trend_fp) carry must equal the batch
    # fixed-point fold EXACTLY — integer arithmetic, so equivalence
    # is by construction, not by matching float operand order.
    from pyspark.sql import functions as F

    from reddit_hn_etl_spark.operators.sequential import (
        holt_winters_fixed_point_per_key,
    )

    rows = [
        (1, "2024-01-01 10:00:00", 7, 1.5),
        (2, "2024-01-01 10:05:00", 7, 2.75),
        (3, "2024-01-01 10:06:00", 8, 10.0),
        (4, "2024-01-01 11:00:00", 7, 6.13),
        (5, "2024-01-01 11:30:00", 8, 0.25),
        (6, "2024-01-01 12:00:00", 7, 3.5),
    ]
    src = tmp_path / "hwfp_stream"
    src.mkdir()
    out = tmp_path / "hwfp_out"
    ckpt = str(tmp_path / "hwfp_ckpt")
    import os as _os
    import time as _time

    base_t = _time.time() - 100
    for i, chunk in enumerate((rows[:2], rows[2:4], rows[4:])):
        p = src / f"b{i + 1}.jsonl"
        _write_events_jsonl(p, chunk)
        _os.utime(p, (base_t + 10 * i, base_t + 10 * i))

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .withColumn(
            "cents", (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
        )
    )
    hw = ingest.holt_winters_fixed_point_stream(
        stream, int_value_col="cents", alpha=(1, 4), beta=(1, 8)
    )

    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(str(out))

    q = (
        hw.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    latest = {}
    for r in spark.read.parquet(str(out)).collect():
        if r.user_id not in latest or r.n_seen > latest[r.user_id].n_seen:
            latest[r.user_id] = r

    batch_df = (
        spark.createDataFrame(
            [(e, ts, u, v) for e, ts, u, v in rows],
            "event_id long, ts string, user_id long, value double",
        )
        .selectExpr(
            "event_id",
            "CAST(ts AS TIMESTAMP) ts",
            "user_id",
            "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) cents",
        )
    )
    final = {}
    for r in holt_winters_fixed_point_per_key(
        batch_df, "user_id", ("ts", "event_id"), "cents",
        alpha=(1, 4), beta=(1, 8),
    ).collect():
        if r.user_id not in final or r.event_id > final[r.user_id][0]:
            final[r.user_id] = (r.event_id, r.level_fp, r.trend_fp)

    assert latest[7].n_seen == 4 and latest[8].n_seen == 2
    for k in (7, 8):
        assert latest[k].level_fp == final[k][1]
        assert latest[k].trend_fp == final[k][2]
        assert latest[k].forecast_next_fp == final[k][1] + final[k][2]


def test_quantile_summary_stream_bound_and_replay(spark, tmp_path):
    """Streamed per-batch quantile summaries merge by concatenation:
    total weight is conserved exactly, every estimate obeys the
    N/k + P rank bound against the exact ranks, and a replayed batch
    (same batch_id re-appended) changes nothing after dedup."""
    import math

    from pyspark.sql import functions as F

    from reddit_hn_etl_spark.operators.sketch import quantile_estimates

    rows = [
        (i, "2024-01-01 10:%02d:00" % (i % 60), 7, float(v))
        for i, v in enumerate(
            [((j * 37) % 101) + 1 for j in range(300)], start=1
        )
    ]
    src = tmp_path / "q_stream"
    src.mkdir()
    sketch_dir = str(tmp_path / "q_summaries")
    ckpt = str(tmp_path / "q_ckpt")
    import os as _os
    import time as _time

    base_t = _time.time() - 100
    for i, chunk in enumerate((rows[:100], rows[100:200], rows[200:])):
        p = src / f"b{i + 1}.jsonl"
        _write_events_jsonl(p, chunk)
        _os.utime(p, (base_t + 10 * i, base_t + 10 * i))

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .select((F.col("value").cast("bigint")).alias("v"))
    )
    k = 16
    q = ingest.quantile_summary_stream(
        stream, "v", sketch_dir, ckpt, k=k, parts=2
    )
    q.awaitTermination(120)

    merged = ingest.merged_quantile_summary(spark, sketch_dir)
    n = len(rows)
    assert merged.agg(F.sum("weight")).collect()[0][0] == n

    targets = [0.25, 0.5, 0.75]
    est = {
        float(r["p_target"]): (int(r["target_rank"]), int(r["est_value"]))
        for r in quantile_estimates(merged, targets).collect()
    }
    xs = sorted(int(v) for _, _, _, v in rows)
    # rank-error theorem: ≤ Σ_c ⌈n_c/k⌉ over compaction units c,
    # which is ≤ N/k + C; each compaction emits ≥ 1 stored row, so
    # C ≤ stored-row count — a conservative but honest bound
    n_compactions = spark.read.parquet(sketch_dir).count()
    bound = n / k + n_compactions
    assert bound < n / 2, "bound too loose to be a meaningful check"
    for p, (target, v) in est.items():
        lt = sum(1 for x in xs if x < v)
        le = sum(1 for x in xs if x <= v)
        assert lt + 1 <= target + bound and le >= target - bound, (
            p,
            v,
            target,
            bound,
        )

    # replay 1 (deterministic retry): re-deliver batch 0's stored
    # rows verbatim into its own partition — dedup must make it a
    # no-op
    stored = spark.read.parquet(sketch_dir)
    first_bid = stored.select(F.min("batch_id")).collect()[0][0]
    stored.where(F.col("batch_id") == first_bid).write.mode(
        "append"
    ).partitionBy("batch_id").parquet(sketch_dir)
    replayed = {
        float(r["p_target"]): (int(r["target_rank"]), int(r["est_value"]))
        for r in quantile_estimates(
            ingest.merged_quantile_summary(spark, sketch_dir), targets
        ).collect()
    }
    assert replayed == est

    # replay 2 (NON-deterministic retry, ADVICE r5): a retried
    # foreachBatch that compacted under different partitioning emits
    # a DIFFERENT (value, weight) decomposition for the same
    # batch_id. The sink contract is partition-overwrite, so the
    # retry must REPLACE batch 0's state wholesale — total mass
    # stays exactly N (the old blind-append + keyed-dedup design
    # kept an arbitrary attempt's weight per value, corrupting it).
    b0 = stored.where(F.col("batch_id") == first_bid)
    b0_vals = sorted(
        (int(r["value"]), int(r["weight"])) for r in b0.collect()
    )
    lo_v = b0_vals[0][0]
    hi_v = next(
        v for v, w in reversed(b0_vals) if w >= 2 and v != lo_v
    )
    perturbed = [
        (
            v,
            w + 1 if v == lo_v else (w - 1 if v == hi_v else w),
            int(first_bid),
        )
        for v, w in b0_vals
    ]
    spark.createDataFrame(
        perturbed, "value bigint, weight bigint, batch_id int"
    ).write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("batch_id").parquet(sketch_dir)
    merged2 = ingest.merged_quantile_summary(spark, sketch_dir)
    assert merged2.agg(F.sum("weight")).collect()[0][0] == n
    # estimates may legitimately shift within the rank bound
    bound2 = n / k + spark.read.parquet(sketch_dir).count()
    for r in quantile_estimates(merged2, targets).collect():
        target, v = int(r["target_rank"]), int(r["est_value"])
        lt = sum(1 for x in xs if x < v)
        le = sum(1 for x in xs if x <= v)
        assert lt + 1 <= target + bound2 and le >= target - bound2


def test_drift_counts_stream_statistics_match_batch(spark, tmp_path):
    """The streamed+merged drift state is row-identical to the batch
    state, so KS and Mann-Whitney computed from it EQUAL the batch
    queries' outputs exactly (integers and IEEE-exact doubles alike).
    Replaying with no new data must change nothing."""
    import os

    from reddit_hn_etl_spark.plans.queries import (
        drift_value_counts,
        ks_from_counts,
        mw_from_counts,
    )

    src = tmp_path / "drift_stream_src"
    src.mkdir()
    counts_dir = str(tmp_path / "drift_counts")
    ckpt = str(tmp_path / "drift_ckpt")

    def write_batch(path, rows):
        with open(path, "w", encoding="utf-8") as f:
            for event_id, ts, event_type, value in rows:
                f.write(json.dumps({
                    "event_id": event_id, "ts": ts, "user_id": event_id % 7,
                    "event_type": event_type, "value": value, "props": "{}",
                }) + "\n")

    # both month halves, both a shifted and an unshifted type, ties
    write_batch(src / "b1.jsonl", [
        (i, "2024-01-0%d 10:00:00" % (1 + i % 9),
         "purchase" if i % 2 == 0 else "view", float(i % 13) + 0.25)
        for i in range(60)
    ])
    write_batch(src / "b2.jsonl", [
        (200 + i, "2024-01-2%d 11:00:00" % (i % 9),
         "purchase" if i % 3 == 0 else "view", float(i % 11) + 0.75)
        for i in range(50)
    ])
    os.utime(src / "b1.jsonl", (1, 1))
    os.utime(src / "b2.jsonl", (2, 2))

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).json(str(src))
        )
        q = ingest.drift_counts_stream(stream, counts_dir, ckpt)
        q.awaitTermination(120)

    run_once()
    run_once()  # replay: no new files -> no state change

    merged = ingest.merged_drift_counts(spark, counts_dir)
    batch_df = spark.read.schema(schema).json(str(src))
    batch_counts = drift_value_counts(batch_df)

    # state parity: row-identical count tables
    key = lambda r: (r["event_type"], r["value"])
    got = sorted(
        [(key(r), r["ca"], r["cb"]) for r in merged.collect()]
    )
    want = sorted(
        [(key(r), r["ca"], r["cb"]) for r in batch_counts.collect()]
    )
    assert got == want and len(got) > 10

    # statistic parity: EXACT equality, doubles included
    for fn in (ks_from_counts, mw_from_counts):
        s = sorted(map(tuple, fn(merged).collect()))
        b = sorted(map(tuple, fn(batch_counts).collect()))
        assert s == b, fn.__name__
    # decisions are non-vacuous on this fixture: the second-half
    # purchase values got the +15 canary shift
    ks = {r["event_type"]: r["drifted"] for r in ks_from_counts(merged).collect()}
    assert ks["purchase"] and not ks["view"]


def test_embedding_stats_stream_isotropy_matches_batch(spark, tmp_path, sf_dir):
    """Merged per-dim moment state reproduces the batch isotropy
    audit EXACTLY (integers + the same IEEE chains), and replay is a
    no-op."""
    import os

    from pyspark.sql import functions as F

    from reddit_hn_etl_spark.plans import queries as Q
    from reddit_hn_etl_spark.sources.tables import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    src = tmp_path / "emb_stream_src"
    # two parquet files -> two micro-batches
    emb.where(F.col("vec_id") % 2 == 0).write.parquet(str(src / "b1"))
    emb.where(F.col("vec_id") % 2 == 1).write.parquet(str(src / "b2"))
    stats_dir = str(tmp_path / "emb_stats")
    ckpt = str(tmp_path / "emb_ckpt")

    def run_once():
        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        q = ingest.embedding_stats_stream(stream, stats_dir, ckpt)
        q.awaitTermination(120)

    run_once()
    run_once()

    m = ingest.merged_embedding_stats(spark, stats_dir).collect()
    n = m[0]["n"]
    assert all(r["n"] == n for r in m) and len(m) == 64
    ss = sum(int(r["sd"]) * int(r["sd"]) for r in m)
    t = sum(int(r["td"]) for r in m)
    batch = Q.QUERIES["embedding_isotropy_audit"](spark, sf_dir).collect()[0]
    assert batch["n_vectors"] == n
    assert int(batch["ss_exact"]) == ss
    assert int(batch["self_dot_exact"]) == t
    # derived ratio from state, same op order as the query
    ratio = ((float(ss) - float(t)) / n / (n - 1)) / (float(t) / n)
    assert batch["isotropy_ratio"] == ratio


def test_quantile_summary_stream_rejects_legacy_flat_sink(spark, tmp_path):
    """ADVICE r6: resuming against a pre-r6 FLAT-layout summary_dir
    (root-level parquet, batch_id as a data column) must fail with
    the clear migration error, not a deep partition-discovery
    failure. ADVICE r7 moved the check to STREAM SETUP (once, via the
    Hadoop FileSystem API so non-local URIs are inspected too), so
    the constructor itself raises before any micro-batch runs."""
    import pytest

    summary_dir = str(tmp_path / "summaries")
    # fabricate the old flat layout: one root-level parquet file
    spark.createDataFrame(
        [(1.0, 2, 0)], "value double, weight long, batch_id long"
    ).coalesce(1).write.parquet(summary_dir)

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    (src_dir / "b0.json").write_text('{"v": 5.0}\n')
    rows = spark.readStream.schema("v double").json(str(src_dir))
    with pytest.raises(Exception, match="pre-r6 flat layout"):
        ingest.quantile_summary_stream(
            rows,
            "v",
            summary_dir=summary_dir,
            checkpoint_dir=str(tmp_path / "ckpt"),
            k=4,
            parts=2,
        )


def test_streaming_url_dedup_on_canonical_key(spark, tmp_path):
    """Crawl-stream URL dedup: canonical_url is a deterministic
    per-row projection, so it composes with the bounded-state
    streaming dedup — different raw spellings of the same URL
    (scheme case, www, default port, param order, tracking params,
    fragment) collapse to ONE surviving row per canonical key within
    the watermark horizon, while genuinely different URLs all pass."""
    import json as _json

    from pyspark.sql import functions as F

    from reddit_hn_etl_spark.functions.scalars import canonical_url
    from reddit_hn_etl_spark.streaming.ingest import (
        dedup_stream_within_watermark,
    )

    src = tmp_path / "urlstream"
    src.mkdir()
    out = tmp_path / "url_out"
    ckpt = str(tmp_path / "url_ckpt")

    rows = [
        # four spellings of ONE canonical url
        ("2024-01-01 10:00:00", "https://www.example.com:443/p?b=2&a=1"),
        ("2024-01-01 10:00:10", "HTTPS://Example.COM/p?a=1&b=2#frag"),
        ("2024-01-01 10:00:20", "https://example.com/p/?a=1&utm_source=x&b=2"),
        ("2024-01-01 10:00:30", "https://example.com/p?b=2&a=1&fbclid=Q"),
        # two distinct canonical urls
        ("2024-01-01 10:00:40", "https://example.com/p?a=1"),
        ("2024-01-01 10:00:50", "http://example.com/p?a=1&b=2"),
    ]
    with open(src / "b1.jsonl", "w", encoding="utf-8") as f:
        for ts, url in rows:
            f.write(_json.dumps({"ts": ts, "url": url}) + "\n")

    stream = (
        spark.readStream.schema("ts timestamp, url string")
        .json(str(src))
        .withColumn("canonical_url", canonical_url(F.col("url")))
    )
    deduped = dedup_stream_within_watermark(stream, ["canonical_url"])
    q = (
        deduped.writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = sorted(r.canonical_url for r in spark.read.parquet(str(out)).collect())
    assert got == [
        "http://example.com/p?a=1&b=2",
        "https://example.com/p?a=1",
        "https://example.com/p?a=1&b=2",
    ]


def test_interval_join_rejects_unknown_how(spark):
    """``how`` is validated with a ValueError, not an assert (stripped
    under ``python -O``): Spark itself would accept ``"left"`` with
    different semantics than the watermark-proved outer join."""
    left = spark.createDataFrame([], "user_id long, l_ts timestamp")
    right = spark.createDataFrame([], "user_id long, r_ts timestamp")
    with pytest.raises(ValueError, match="how must be"):
        ingest.interval_join_streams(left, right, how="left")


def _replay_sinks():
    from pyspark.sql import functions as F

    def ivm_view(spark):
        dim = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 1), (3, 2)], "u_key long, region int"
        )
        return (
            lambda s, out, ck: ingest.ivm_join_view_stream(
                s, dim, F.col("user_id") == F.col("u_key"), ["region"],
                {"n": F.lit(1), "total": F.col("value").cast("decimal(18,2)")},
                out, ck,
            ),
            lambda out: ingest.merged_join_view(
                spark, out, ["region"], ["n", "total"]
            ),
        )

    # name -> spark -> (start(stream, out, ckpt), read(out))
    return {
        "heavy_hitters": lambda spark: (
            lambda s, out, ck: ingest.heavy_hitters_stream(
                s, "user_id", out, ck, k=2
            ),
            lambda out: ingest.merged_heavy_hitters(spark, out, "user_id"),
        ),
        "distinct_users": lambda spark: (
            ingest.distinct_users_sketch_stream,
            lambda out: ingest.merged_distinct_users(spark, out),
        ),
        "constraint_report": lambda spark: (
            lambda s, out, ck: ingest.constraint_report_stream(
                s, {"value_positive": F.col("value") > 0}, out, ck
            ),
            lambda out: ingest.constraint_history(spark, out),
        ),
        "drift_counts": lambda spark: (
            ingest.drift_counts_stream,
            lambda out: ingest.merged_drift_counts(spark, out),
        ),
        "embedding_stats": lambda spark: (
            ingest.embedding_stats_stream,
            lambda out: ingest.merged_embedding_stats(spark, out),
        ),
        "ivm_join_view": ivm_view,
    }


@pytest.mark.parametrize(
    "sink",
    [
        "heavy_hitters",
        *[
            pytest.param(name, marks=pytest.mark.exhaustive)
            for name in (
                "distinct_users", "constraint_report", "drift_counts",
                "embedding_stats", "ivm_join_view",
            )
        ],
    ],
)
def test_partial_state_reader_dedups_a_retried_append(spark, tmp_path, sink):
    """At-least-once foreachBatch: a batch retried after its append
    landed (failure before the checkpoint commit) appends its partial
    rows again. Simulate exactly that — re-append one stored batch's
    rows with the stored schema — and the merged reader must return
    the same rows as before (the (batch_id, keys) dedup). A
    checkpointed re-run replays nothing, so it cannot reach the dedup;
    this does."""
    import os

    from pyspark.sql import functions as F

    src = tmp_path / "src"
    src.mkdir()
    for b in range(2):
        path = src / f"b{b}.jsonl"
        with open(path, "w", encoding="utf-8") as f:
            for i in range(12):
                f.write(json.dumps({
                    "event_id": 100 * b + i,
                    "ts": "2024-01-%02d 10:00:00" % (5 + 15 * b),
                    "user_id": (i * (b + 1)) % 4,
                    "event_type": "purchase" if i % 2 else "view",
                    "value": float(i % 5) - 1.0,
                    "embedding": [float((i * j + b) % 7) for j in range(4)],
                }) + "\n")
        os.utime(path, (1000 + b, 1000 + b))
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, embedding array<double>"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    start, read = _replay_sinks()[sink](spark)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    start(stream, out, ckpt).awaitTermination(120)

    def rows():
        return sorted(map(tuple, read(out).collect()), key=repr)

    before = rows()
    assert before
    stored = spark.read.parquet(out)
    n_stored = stored.count()
    retried = stored.where(F.col("batch_id") == 1).collect()
    assert retried
    spark.createDataFrame(retried, stored.schema).write.mode("append").parquet(
        out
    )
    assert spark.read.parquet(out).count() == n_stored + len(retried)
    assert rows() == before
