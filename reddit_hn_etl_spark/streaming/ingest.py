"""Structured Streaming surface (SURVEY.md §2.9).

The reference is strictly batch, but its batch-id + idempotent-merge
design is exactly the micro-batch contract of Structured Streaming's
``foreachBatch`` — so the streaming ingest below REUSES the batch
transform + merge operators unchanged: each micro-batch is
transformed, freshness-merged into the staging table, and atomically
swapped. Exactly-once story: the merge is idempotent by key+freshness
(`sql/load/03_merge.sql` semantics), so replayed micro-batches
converge — the same property the reference documents for re-runs
(`README.md:210-225`).

Also provides the windowed/watermarked aggregation surface a
streaming mart needs (daily metrics → sliding/tumbling windows) and
native session windows.

MERGE semantics without a mutable store. ``foreachBatch`` delivery is
at-least-once: a batch retried after a failure between its writes and
the checkpoint commit runs again with the same ``batch_id``. Every
persisted sink below follows one of two protocols that make such a
retry a no-op, each written once in the private helpers:

* **Partial-state sinks** (sketches, quality reports, drift and
  embedding moments, IVM view deltas): each micro-batch appends its
  own bounded partial stamped with ``batch_id`` (`_append_partial`);
  the reader drops duplicate ``(batch_id, keys)`` rows before it
  merges (`_merged_partials`), so a re-appended batch cannot
  double-count.
* **Replay-watermark indexes** (gram, minhash, IVF, IVF-PQ): per-batch
  rows carry ``batch_id`` and a null ``thru`` (`_append_index_rows`).
  Compaction folds history into one snapshot (``batch_id = -1``,
  ``thru`` = the highest batch folded, `_watermarks`) and promotes it
  with write-new-then-swap (`localfs.write_swap`). A reader sees the
  snapshot plus partials above its ``thru`` and, for a batch reading
  the index it is about to append to, below its own ``batch_id``
  (`_visible`); row-identity indexes then resolve each key
  last-write-wins (`_latest`). A replay of a folded batch is dropped
  by the watermark, one above it dedups.

The swaps and the gram-scheme marker use local-filesystem calls, so
those dirs must be local paths: `_require_local` refuses a
``scheme://`` URI before anything is written (`localfs.require_local`).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.utils import AnalysisException

from ..localfs import require_local, write_swap
from ..plans.hn_pipeline import transform_raw
from ..schema import RAW_SCHEMA


def read_raw_stream(spark: SparkSession, raw_dir: str, max_files: int = 10) -> DataFrame:
    """File-source stream of raw JSONL batches with the explicit
    schema (never inferred). ``maxFilesPerTrigger`` bounds micro-batch
    size — at scale this is the ingest backpressure knob."""
    return (
        spark.readStream.schema(RAW_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .json(raw_dir)
        # Source-file lineage for the monotone batch stamp (the
        # reference derives extracted_at from the batch *file name*,
        # `src/common/files.py:9-13`); underscore-prefixed so the
        # transform treats it as reader metadata, not data.
        .withColumn("_src_file", F.col("_metadata.file_path"))
    )


# --- micro-batch driver and keyed state -----------------------------


def _run_batches(df: DataFrame, process, checkpoint_dir: str) -> StreamingQuery:
    """Drain ``df`` once (``availableNow``) through ``process(batch_df,
    batch_id)``, skipping empty micro-batches. The one writer of every
    sink except `stream_merge_to_staging`, whose trigger is the
    caller's choice."""

    def each(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            process(batch_df, batch_id)

    return (
        df.writeStream.foreachBatch(each)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _watermarked(df: DataFrame, ts_col: str, watermark: str) -> DataFrame:
    """``df`` with an event-time watermark when it is streaming; batch
    frames pass through (no state to evict)."""
    return df.withWatermark(ts_col, watermark) if df.isStreaming else df


def _keyed_state(
    events: DataFrame, key_col: str, ts_col: str, watermark: str, update,
    out_schema: str, state_schema: str, output_mode: str = "update",
) -> DataFrame:
    """Per-key state carried across micro-batches in the state store:
    ``applyInPandasWithState`` over the watermarked frame, no timeout.
    ``update(key, pdfs, state)`` folds one key's rows into its state
    tuple and yields the output rows."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return _watermarked(events, ts_col, watermark).groupBy(
        key_col
    ).applyInPandasWithState(
        update, outputStructType=out_schema, stateStructType=state_schema,
        outputMode=output_mode, timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- partial-state sinks --------------------------------------------


def _append_partial(df: DataFrame, batch_id: int, path: str) -> None:
    """Append one micro-batch's partial state stamped with ``batch_id``.
    The stamp is ``F.lit(batch_id)`` (int), the type existing sink dirs
    hold: a dir mixing int and long files fails to read."""
    df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(path)


def _partials_stream(
    rows: DataFrame, partial, path: str, checkpoint_dir: str
) -> StreamingQuery:
    """A partial-state sink: each non-empty micro-batch appends
    ``partial(batch_df)`` to ``path``."""
    return _run_batches(
        rows, lambda b, batch_id: _append_partial(partial(b), batch_id, path),
        checkpoint_dir,
    )


def _merged_partials(df: DataFrame, keys: list[str], *aggs) -> DataFrame:
    """The read side of the partial-state protocol: drop replayed
    duplicates on ``(batch_id, *keys)``, then merge with
    ``groupBy(keys).agg(aggs)`` — or return the deduped rows when no
    aggregate is given."""
    df = df.dropDuplicates(["batch_id", *keys])
    return df.groupBy(*keys).agg(*aggs) if aggs else df


# --- local dirs and the replay-watermark index protocol ------------

def _require_local(path: str) -> None:
    """Refuse a ``scheme://`` path: the swap and marker helpers work
    through ``os``/``shutil``."""
    require_local(path, "streaming state and index dirs")


def _has_data(path: str) -> bool:
    """True iff ``path`` is a dir holding a file Spark would read
    (underscore/dot-prefixed markers don't count)."""
    return os.path.isdir(path) and any(
        not f.startswith(("_", ".")) for f in os.listdir(path)
    )


def _read_or_none(spark: SparkSession, path: str) -> DataFrame | None:
    """``spark.read.parquet(path)``, or None when the path does not
    exist yet (a sink's first batch). Only path-not-found means "first
    batch": any other AnalysisException (an unresolved protocol column,
    a corrupt schema) is raised, since swallowing it would silently
    reset the state."""
    try:
        return spark.read.parquet(path)
    except AnalysisException as ex:
        msg = str(ex)
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            return None
        raise


def _read_index_dir(spark: SparkSession, index_dir: str) -> DataFrame | None:
    """Open a replay-watermark index dir: None when it holds no data
    yet (missing, or only markers — e.g. the gram-scheme marker after a
    crash before the first append), the raw DataFrame when it carries
    the protocol columns, and a loud ValueError when it exists WITHOUT
    them — a pre-protocol dir must be migrated (re-append its rows with
    batch_id/thru, or rebuild) before streaming against it; treating it
    as "first batch" would miss every existing row."""
    _require_local(index_dir)
    if os.path.isdir(index_dir) and not _has_data(index_dir):
        return None
    df = _read_or_none(spark, index_dir)
    if df is None:
        return None
    missing = {"batch_id", "thru"} - set(df.columns)
    if missing:
        raise ValueError(
            f"index dir {index_dir!r} exists but lacks replay-protocol "
            f"columns {sorted(missing)}; migrate or rebuild it before "
            "streaming against it"
        )
    return df


def _append_index_rows(
    df: DataFrame, batch_id: int, index_dir: str, partition_col: str | None = None
) -> None:
    """Append one batch's index rows: ``batch_id`` pinned to long (the
    compaction snapshot writes long, and a dir mixing int and long
    files fails to read) plus a null ``thru``."""
    writer = (
        df.withColumn("batch_id", F.lit(batch_id).cast("long"))
        .withColumn("thru", F.lit(None).cast("long"))
        .write.mode("append")
    )
    if partition_col is not None:
        writer = writer.partitionBy(partition_col)
    writer.parquet(index_dir)


def _snapshot_thru(df: DataFrame) -> int | None:
    """The snapshot's ``thru`` watermark, None before the first
    compaction: one 1-row driver probe."""
    return df.agg(F.max("thru")).first()[0]


def _watermarks(df: DataFrame) -> tuple[int | None, int]:
    """``(snapshot thru, fold thru)`` from one 1-row probe: the
    current snapshot's watermark (None before the first compaction)
    and the ``thru`` of a new snapshot of ``df`` — the highest batch
    it folds, or the previous watermark if that is higher."""
    row = df.agg(
        F.max("thru").alias("thru"),
        F.greatest(
            F.max("batch_id"), F.coalesce(F.max("thru"), F.lit(-1))
        ).alias("fold"),
    ).first()
    return row["thru"], row["fold"]


def _as_snapshot(df: DataFrame, thru: int) -> DataFrame:
    """Stamp rows as the compacted snapshot: batch_id = -1, ``thru``."""
    return df.withColumn("batch_id", F.lit(-1).cast("long")).withColumn(
        "thru", F.lit(thru).cast("long")
    )


def _visible(
    df: DataFrame, thru: int | None, before_batch: int | None = None
) -> DataFrame:
    """The index rows a reader sees: the snapshot plus partials above
    its ``thru`` (the rest are folded into it) and, with
    ``before_batch``, below that batch — a batch never reads its own
    uncommitted append."""
    snap = F.col("batch_id") == -1
    if thru is not None:
        df = df.where(snap | (F.col("batch_id") > thru))
    if before_batch is not None:
        df = df.where(snap | (F.col("batch_id") < before_batch))
    return df


def _latest(df: DataFrame, keys: list[str], order=("batch_id",)) -> DataFrame:
    """Last-write-wins: the row with the highest ``order`` per ``keys``
    (the snapshot's batch_id = -1 loses to every partial)."""
    w = Window.partitionBy(*keys).orderBy(*[F.desc(c) for c in order])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def _pre_batch_index(
    spark: SparkSession, index_dir: str, batch_id: int, merged_view, unfold
) -> DataFrame | None:
    """The index as it stood before ``batch_id`` (None on the first
    batch), so a replayed batch reproduces its original output. The
    dir is read once and probed once: ``merged_view(df, thru,
    before_batch)`` is the reader's merged view of that one frame,
    hiding the batch's own partial rows; if a compaction already
    folded the then-uncommitted batch into the snapshot
    (``thru >= batch_id``), ``unfold(merged)`` takes its contribution
    back out."""
    idx_df = _read_index_dir(spark, index_dir)
    if idx_df is None:
        return None
    thru = _snapshot_thru(idx_df)
    merged = merged_view(idx_df, thru, batch_id)
    if thru is not None and thru >= batch_id:
        return unfold(merged)
    return merged


def _row_index_view(
    df: DataFrame,
    thru: int | None,
    key_cols: list[str],
    before_batch: int | None = None,
) -> DataFrame:
    """Shared read of the row-identity indexes (minhash bands, IVF
    cells, PQ codes — a replayed batch re-appends IDENTICAL rows,
    unlike the gram index's summed counts), given the snapshot's
    ``thru``: the visible rows resolved last-write-wins per key,
    protocol columns stripped. Replays of one batch append
    bit-identical rows, so the within-batch pick is
    content-deterministic. Caveat for multi-row-per-entity keys
    (minhash bands key (id, band)): LWW resolves each surviving key to
    its newest row but cannot DELETE a stale key an updated entity no
    longer produces — content-changing redelivery there still needs
    disjoint ids upstream or an explicit rebuild."""
    return _latest(_visible(df, thru, before_batch), key_cols).drop(
        "batch_id", "thru"
    )


def _swap_snapshot(
    merged: DataFrame, fold: int, index_dir: str, suffix: str,
    partition_col: str | None = None, before_swap=None,
) -> int:
    """Stamp ``merged`` as the snapshot folding batches up to ``fold``
    and swap it in (`localfs.write_swap`); returns the rows written,
    counted by an ``Observation`` on the write instead of a read-back
    job."""
    obs = Observation()
    write_swap(
        _as_snapshot(merged, fold).observe(obs, F.count(F.lit(1)).alias("n")),
        index_dir, suffix, [partition_col] if partition_col else [],
        before_swap,
    )
    return obs.get["n"]


def _compact_row_index(
    df: DataFrame, index_dir: str, key_cols: list[str], partition_col: str
) -> int:
    """Shared compaction of the row-identity indexes, given the dir's
    frame: the merged read, stamped as the snapshot and swapped in, so
    compaction never changes what a reader sees. Returns the snapshot
    row count. Run between batches (single writer)."""
    thru, fold = _watermarks(df)
    return _swap_snapshot(
        _row_index_view(df, thru, key_cols), fold, index_dir, "_compacting",
        partition_col,
    )


def _append_drift_row(
    spark: SparkSession, report: dict, schema: str, index_dir: str
) -> None:
    """Append one drift report to the ``<index_dir>_drift`` history."""
    fields = [f.split()[0] for f in schema.split(", ")]
    spark.createDataFrame(
        [tuple(report[f] for f in fields)], schema=schema
    ).write.mode("append").parquet(index_dir.rstrip("/") + "_drift")


def _new_vs_snapshot(df: DataFrame, value: str, q: float) -> list[dict]:
    """``[new, snapshot]``: count, mean and ``q``-quantile of ``value``
    over the newly indexed rows (batch_id > thru) and over the snapshot
    rows; mean and quantile are None on an empty side."""
    stats = {
        r["_snap"]: r.asDict()
        for r in df.groupBy((F.col("batch_id") == -1).alias("_snap"))
        .agg(
            F.count("*").alias("n"),
            F.avg(value).alias("mean"),
            F.percentile_approx(value, q).alias("q"),
        )
        .collect()
    }
    empty = {"n": 0, "mean": None, "q": None}
    return [stats.get(side, empty) for side in (False, True)]


def _cell_sizes(df: DataFrame) -> tuple[float | None, int]:
    """(cell_skew, cells_used) of the visible rows: max/mean rows per
    cell — drifted data piling into few cells unbalances the cell
    equi-join even before recall moves — and the number of cells
    holding any row."""
    sk = (
        df.groupBy("cell")
        .agg(F.count("*").alias("n"))
        .agg(
            F.max("n").alias("mx"),
            F.avg("n").alias("mean"),
            F.count("*").alias("used"),
        )
        .first()
    )
    skew = float(sk["mx"]) / float(sk["mean"]) if sk["mx"] is not None else None
    return skew, int(sk["used"])


# --- HN staging ------------------------------------------------------


def _batch_stamp_epoch(batch_df: DataFrame, prev_epoch: int) -> int:
    """Monotone, replay-deterministic extraction stamp for a
    micro-batch (epoch seconds).

    Preference order:
      1. max batch-filename timestamp of the micro-batch's source
         files (``hn_raw_YYYYMMDD_HHMMSS.json`` — the reference's
         extraction instant, `src/common/files.py:9-13`): extraction
         time always increases for newly extracted batches, unlike
         max *event* time, which a backfill/out-of-order batch can
         regress — silently losing the freshness merge.
      2. max event time in the batch (file names not parseable —
         non-reference file layout).
      3. ``prev_epoch`` (all-null times — never epoch 0).

    The result is clamped to ``>= prev_epoch`` so the stamp sequence
    this run is non-decreasing; a batch of genuinely older extractions
    stamps equal to the newest seen and the strict ``>`` freshness
    gate correctly keeps the already-merged newer rows.
    """
    import datetime as dt

    from ..sources.batches import RAW_NAME_RE, TS_FORMAT

    candidate = 0
    try:
        src = (
            F.col("_src_file")
            if "_src_file" in batch_df.columns
            else F.col("_metadata.file_path")
        )
        files = [
            r[0]
            for r in batch_df.select(src.alias("f")).distinct().collect()
        ]
        stamps = []
        for f in files:
            m = RAW_NAME_RE.search(os.path.basename(f))
            if m:
                stamps.append(
                    dt.datetime.strptime(m.group(1), TS_FORMAT).replace(
                        tzinfo=dt.timezone.utc
                    )
                )
        if stamps:
            candidate = int(max(stamps).timestamp())
    except Exception:  # noqa: BLE001 - non-file source: no metadata col
        candidate = 0
    if candidate == 0:
        candidate = batch_df.agg(
            F.max(F.col("time").try_cast("long"))
        ).collect()[0][0] or 0
    return max(int(candidate), prev_epoch)


def stream_merge_to_staging(
    raw_stream: DataFrame,
    staging_root: str,
    checkpoint: str,
    available_now: bool = False,
    marts_root: str | None = None,
    dead_letter_root: str | None = None,
) -> StreamingQuery:
    """writeStream → foreachBatch(transform + validate + merge +
    atomic swap).

    ``extracted_at`` is the batch-filename extraction timestamp
    (monotone — see :func:`_batch_stamp_epoch`), carried across
    micro-batches and restarts (re-seeded from the staging table's
    max on the first batch), so replays produce identical rows and
    the freshness merge converges.

    Rows failing the staging contract (NULL id/time after try_cast —
    the reference aborts on these via ``pd.to_numeric(errors=
    'raise')``) are split out BEFORE the merge: appended to
    ``dead_letter_root`` (default ``<staging_root>_deadletter``)
    with the batch id, instead of flowing into the null-safe key join
    as phantom keys.

    With ``marts_root`` set, each micro-batch also incrementally
    refreshes the mart date-partitions it touched (the streaming
    completion of the reference's "incremental MART updates" roadmap
    item, `README.md:342`) — full end-to-end latency from raw file to
    refreshed mart is one micro-batch.

    ``staging_root`` must be a local path (it is swapped with
    local-filesystem renames); a URI raises ValueError before the
    query starts.
    """
    _require_local(staging_root)
    dl_root = dead_letter_root or (staging_root + "_deadletter")
    # Mutable cell: the newest stamp seen this run (monotone floor).
    last_epoch = [0]

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if not batch_df.take(1):
            return
        if last_epoch[0] == 0 and os.path.isdir(staging_root) and os.listdir(
            staging_root
        ):
            # Restart: re-seed the monotone floor from what's merged.
            prev = (
                spark.read.parquet(staging_root)
                .agg(F.max(F.unix_timestamp("extracted_at")))
                .collect()[0][0]
            )
            last_epoch[0] = int(prev or 0)
        stamp = _batch_stamp_epoch(batch_df, last_epoch[0])
        last_epoch[0] = stamp
        staged = transform_raw(
            batch_df, batch_ts=F.timestamp_seconds(F.lit(stamp))
        )
        # Contract check (reference fail-fast, softened to dead-letter
        # so one poison record doesn't halt the stream): id/time must
        # have survived the strict cast.
        bad = staged.where(
            F.col("id").isNull() | F.col("time").isNull()
        )
        bad_n = bad.count()
        if bad_n:
            bad.withColumn("_batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(dl_root)
            staged = staged.where(
                F.col("id").isNotNull() & F.col("time").isNotNull()
            )
            if not staged.take(1):
                return
        if os.path.isdir(staging_root) and os.listdir(staging_root):
            from ..plans.hn_pipeline import load_merge

            target = spark.read.parquet(staging_root)
            merged, _ = load_merge(target, staged)
        else:
            merged = staged
        write_swap(merged, staging_root, f"_b{batch_id}")
        if marts_root is not None:
            from ..plans.hn_pipeline import refresh_marts_incremental

            staging = spark.read.parquet(staging_root)
            refresh_marts_incremental(staging, staged, marts_root)

    writer = raw_stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# --- windows, joins and keyed state ----------------------------------


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling/sliding window counts — the streaming
    analogue of the daily-metrics mart (A1). Works on batch frames
    too (window without watermark semantics).

    Late rows beyond ``watermark`` are dropped by the engine; state
    for closed windows is evicted — bounded memory at firehose scale.
    """
    win = F.window(F.col(ts_col), window, slide) if slide else F.window(
        F.col(ts_col), window
    )
    return _watermarked(events, ts_col, watermark).groupBy(
        win.alias("win")
    ).agg(
        F.count("*").alias("events_count"),
        F.sum("value").alias("total_value"),
    ).select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        "events_count",
        "total_value",
    )


def session_windows(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Native session windows (gap-based) per key — Spark's built-in
    stateful session operator; JVM-side state store, no Python state.
    """
    return _watermarked(events, ts_col, watermark).groupBy(
        F.session_window(F.col(ts_col), gap).alias("sess"), F.col(key_col)
    ).agg(
        F.count("*").alias("n_events"),
        F.sum("value").alias("total_value"),
    ).select(
        key_col,
        F.col("sess.start").alias("session_start"),
        F.col("sess.end").alias("session_end"),
        "n_events",
        "total_value",
    )


def running_user_totals(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str = "2 hours",
) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-key running totals emitted each micro-batch.

    This is the escape hatch for stateful logic Spark's built-in
    operators can't express (session_window and windowed aggs cover
    the common cases above) — arbitrary per-key state held in the
    state store, updated from Arrow batches. State here is tiny
    (n, total, max_ts) per key; at firehose scale the state store
    shards by key across executors.

    Output per batch: (key, n_events, total_value, last_ts) with the
    cumulative values including all previous batches.
    """
    import pandas as pd

    def update(key, pdfs, state):
        n, total, last_ts = (
            state.get if state.exists else (0, 0.0, None)
        )
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[value_col].sum())
            batch_max = pdf[ts_col].max()
            if last_ts is None or (batch_max is not None and batch_max > last_ts):
                last_ts = batch_max
        state.update((n, total, last_ts))
        yield pd.DataFrame(
            {
                key_col: [key[0]],
                "n_events": [n],
                "total_value": [round(total, 6)],
                "last_ts": [last_ts],
            }
        )

    return _keyed_state(
        events, key_col, ts_col, watermark, update,
        f"{key_col} long, n_events long, total_value double, last_ts timestamp",
        "n long, total double, last_ts timestamp",
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    left_ts: str = "l_ts",
    right_ts: str = "r_ts",
    max_gap: str = "15 minutes",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join within a time interval: right events within
    ``[left_ts, left_ts + max_gap]`` per key — the streaming form of
    the batch interval join (operators/joins.py), e.g. "purchase
    followed by an error within 15 minutes".

    Both sides carry watermarks and the join condition bounds the
    event-time skew, which is what lets the engine EVICT buffered
    state for rows past `watermark + max_gap` — without the time
    bound a stream-stream join's state grows forever. Works on batch
    frames too (same condition, no state).

    ``how="left_outer"`` emits the no-match row (NULL right side)
    only once the watermark passes the row's join horizon — i.e. the
    engine proves no future right event can still match before
    declaring the absence. That makes the outer result EVENTUALLY
    complete: unmatched rows from the stream's tail stay buffered
    until later data (or a no-data batch) advances the watermark —
    the streaming-correct behavior, asserted by the eviction test.
    ``how="full_outer"`` extends the same watermark-proved absence to
    BOTH sides (unmatched right events surface with a NULL left ts);
    the output key coalesces across sides since either may be the
    absent one. Any other ``how`` raises ValueError (Spark would
    accept e.g. ``"left"`` with different semantics).
    """
    if how not in ("inner", "left_outer", "full_outer"):
        raise ValueError(
            "interval_join_streams: how must be 'inner', 'left_outer' "
            f"or 'full_outer', got {how!r}"
        )
    gap = F.expr(f"INTERVAL {max_gap}")
    return _watermarked(left, left_ts, watermark).alias("l").join(
        _watermarked(right, right_ts, watermark).alias("r"),
        (F.col(f"l.{key_col}") == F.col(f"r.{key_col}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}"))
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}") + gap),
        how,
    ).select(
        F.coalesce(
            F.col(f"l.{key_col}"), F.col(f"r.{key_col}")
        ).alias(key_col),
        F.col(f"l.{left_ts}").alias(left_ts),
        F.col(f"r.{right_ts}").alias(right_ts),
    )


def dedup_stream_within_watermark(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming dedup with bounded state: drops duplicate keys seen
    within the watermark horizon (state for keys older than the
    watermark is evicted — the only way dedup state stays finite on
    an infinite stream). Exact within the horizon; duplicates farther
    apart than the watermark pass through — pair with the batch
    freshness merge downstream for full idempotency.
    """
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


def ema_stream(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    alpha: float = 0.5,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming twin of ``operators/sequential.ema_per_key``: the
    per-key EMA recurrence carried across micro-batches in the state
    store — the accumulator IS the state, so a key's unbounded
    history never materializes (the batch operator's documented
    limit).

    Order contract: rows are folded by (ts, id) WITHIN each
    micro-batch, and batches fold in arrival order — with in-order
    arrival the result is BIT-IDENTICAL to the batch fold (pinned by
    test_stateful_streaming); out-of-order arrival across batches is
    the stream's semantic difference, bounded by the watermark.

    Emits per batch: (key, ema, n_seen) — the post-batch accumulator.
    """
    import pandas as pd

    a = float(alpha)

    def update(key, pdfs, state):
        acc, n = state.get if state.exists else (0.0, 0)
        for pdf in pdfs:
            pdf = pdf.sort_values([ts_col, id_col], kind="mergesort")
            for v in pdf[value_col].to_numpy(dtype="float64"):
                # same operand order as the batch fold / DuckDB oracle
                acc = v if n == 0 else a * v + (1.0 - a) * acc
                n += 1
        state.update((acc, n))
        yield pd.DataFrame({key_col: [key[0]], "ema": [acc], "n_seen": [n]})

    return _keyed_state(
        events, key_col, ts_col, watermark, update,
        f"{key_col} long, ema double, n_seen long", "acc double, n long",
    )


def holt_winters_stream(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    alpha: float = 0.25,
    beta: float = 0.125,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming twin of ``sequential.holt_winters_per_key``: the
    (level, trend) pair carried across micro-batches in the state
    store — 24 bytes of state per key however long the history. Same
    order contract as `ema_stream`: rows fold by (ts, id) within a
    batch, batches fold in arrival order; with in-order arrival the
    carried state is BIT-identical to the batch fold (pinned by the
    equivalence test), and the emitted ``forecast_next`` is the live
    one-step-ahead prediction per key.

    Emits per batch: (key, level, trend, forecast_next, n_seen).
    """
    import pandas as pd

    a, b = float(alpha), float(beta)

    def update(key, pdfs, state):
        lvl, tr, n = state.get if state.exists else (0.0, 0.0, 0)
        for pdf in pdfs:
            pdf = pdf.sort_values([ts_col, id_col], kind="mergesort")
            for v in pdf[value_col].to_numpy(dtype="float64"):
                if n == 0:
                    lvl, tr = v, 0.0
                else:
                    # same operand order as the batch fold's recurrence
                    lvl_new = a * v + (1.0 - a) * (lvl + tr)
                    tr = b * (lvl_new - lvl) + (1.0 - b) * tr
                    lvl = lvl_new
                n += 1
        state.update((lvl, tr, n))
        yield pd.DataFrame(
            {
                key_col: [key[0]],
                "level": [lvl],
                "trend": [tr],
                "forecast_next": [lvl + tr],
                "n_seen": [n],
            }
        )

    return _keyed_state(
        events, key_col, ts_col, watermark, update,
        f"{key_col} long, level double, trend double, "
        "forecast_next double, n_seen long",
        "lvl double, tr double, n long",
    )


def holt_winters_fixed_point_stream(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    int_value_col: str = "cents",
    alpha: tuple[int, int] = (1, 4),
    beta: tuple[int, int] = (1, 8),
    scale_bits: int = 20,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming twin of
    ``sequential.holt_winters_fixed_point_per_key`` — the EXACT
    integer Holt recurrence carried as (level_fp, trend_fp, n) int64
    state across micro-batches. Unlike the float twin above, state
    equivalence with the batch fold is exact by CONSTRUCTION (integer
    arithmetic has no rounding to drift), so resume-after-restart and
    replay land on bit-identical state under any in-order batch
    slicing. Emits per batch: (key, level_fp, trend_fp,
    forecast_next_fp, n_seen).
    """
    import pandas as pd

    an, ad = int(alpha[0]), int(alpha[1])
    bn, bd = int(beta[0]), int(beta[1])
    scale = 1 << scale_bits

    def update(key, pdfs, state):
        lvl, tr, n = state.get if state.exists else (0, 0, 0)
        lvl, tr, n = int(lvl), int(tr), int(n)
        for pdf in pdfs:
            pdf = pdf.sort_values([ts_col, id_col], kind="mergesort")
            for v in pdf[int_value_col].tolist():
                x = int(v) * scale
                if n == 0:
                    lvl, tr = x, 0
                else:
                    # Python // floors — identical to the batch fold
                    lvl_new = (an * x + (ad - an) * (lvl + tr)) // ad
                    tr = (bn * (lvl_new - lvl) + (bd - bn) * tr) // bd
                    lvl = lvl_new
                n += 1
        state.update((lvl, tr, n))
        yield pd.DataFrame(
            {
                key_col: [key[0]],
                "level_fp": [lvl],
                "trend_fp": [tr],
                "forecast_next_fp": [lvl + tr],
                "n_seen": [n],
            }
        )

    return _keyed_state(
        events, key_col, ts_col, watermark, update,
        f"{key_col} long, level_fp long, trend_fp long, "
        "forecast_next_fp long, n_seen long",
        "lvl long, tr long, n long",
    )


def curate_doc_stream(
    docs: DataFrame,
    ts_col: str = "ts",
    text_col: str = "text",
    min_quality: float = 0.5,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming corpus intake: the curation pipeline's first two
    stages as an incremental plan — quality-gate the arriving docs
    (stateless projection), then drop content duplicates by
    normalized md5 fingerprint within a watermark horizon (bounded
    state, same contract as ``dedup_stream_within_watermark``).

    Near-dup clustering stays a batch job over the accumulated corpus
    (iterative CC has no incremental formulation); this stream keeps
    the exact-dup + junk firehose from ever landing in storage.
    Output adds ``quality_score`` (rounded) and ``fingerprint``.
    """
    from ..functions.text import fingerprint_md5, quality_score

    gated = docs.withColumn(
        "quality_score", F.round(quality_score(text_col), 4)
    ).where(F.col("quality_score") >= min_quality)
    fp = gated.withColumn("fingerprint", fingerprint_md5(text_col))
    return fp.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["fingerprint"]
    )


# --- replay-watermark indexes ----------------------------------------


def screen_stream_against_minhash_index(
    docs: DataFrame,
    index_dir: str,
    hits_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> StreamingQuery:
    """Streaming incremental near-dup screen: each micro-batch is
    matched against the PERSISTED MinHash index (only the batch is
    shingled/hashed — `operators/dedup.minhash_index` semantics), its
    near-dup hits are appended to ``hits_dir``, and its own band rows
    are appended to ``index_dir`` so later batches screen against it.
    The batch operator is reused unchanged — the same foreachBatch
    discipline as `stream_merge_to_staging`.

    Delivery contract: parquet appends inside foreachBatch are
    at-least-once under retries — a replayed batch can duplicate hit
    rows and index band rows. Hits carry their (doc_old, doc_new) key
    and the index join dedups candidate pairs, so BOTH surfaces are
    safe to consume with a keyed dropDuplicates / the freshness merge
    downstream; results converge, the reference's replay story.
    Replay determinism: the batch screens against the index as it
    stood before the batch (`_pre_batch_index`), so a batch replayed
    after its index append landed does not meet its own band rows —
    the replayed hit rows are bit-identical to the originals, not a
    superset.

    Index layout: the replay-watermark protocol (module docstring);
    `read_minhash_index_merged` resolves replays on (id, band) and
    `compact_minhash_index` folds history into one snapshot, bounding
    the one-parquet-append-per-batch growth.

    State: none in the streaming engine (the index IS the state, on
    storage, partitioned by band for a partition-pruned join). At
    scale: batch cost is O(batch × bands) rows into the bucket join;
    corpus text is never re-read.
    """
    from ..operators.dedup import index_pairs, minhash_index

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark_b = batch_df.sparkSession
        batch_banded = minhash_index(
            batch_df.select(id_col, text_col), id_col, text_col,
            num_hashes, bands, shingle_n,
        ).persist()
        try:
            # compaction-ahead: band rows key by doc id and batch ids
            # are disjoint (caller contract), so an anti-join on the
            # batch's own ids takes its folded rows back out.
            existing = _pre_batch_index(
                spark_b, index_dir, batch_id,
                lambda df, thru, before: _minhash_view(df, thru, id_col, before),
                lambda merged: merged.join(
                    batch_df.select(id_col), id_col, "left_anti"
                ),
            )
            if existing is not None:
                index_pairs(
                    batch_banded, existing, id_col, num_hashes, threshold
                ).write.mode("append").parquet(hits_dir)
            _append_index_rows(batch_banded, batch_id, index_dir, "band")
        finally:
            batch_banded.unpersist()

    return _run_batches(docs, process, checkpoint_dir)


# Gram-hash scheme of the CURRENT code: scheme 2 is the composed
# doubling-ladder hash (`dedup.gram_hash_doubling`); scheme 1 was
# xxhash64 over the materialized gram STRING. The two produce disjoint
# hash values for the same gram, so a dir written under one scheme
# silently misses every duplicate span when read under the other — the
# marker makes the mismatch loud instead.
_GRAM_HASH_SCHEME = 2
_GRAM_SCHEME_MARKER = "_gram_hash_scheme"


def _stamp_gram_scheme(index_dir: str) -> None:
    with open(os.path.join(index_dir, _GRAM_SCHEME_MARKER), "w") as fh:
        fh.write(str(_GRAM_HASH_SCHEME))


def _check_gram_scheme(index_dir: str, create: bool = False) -> None:
    """Fail loudly unless ``index_dir`` carries the current gram-hash
    scheme marker (an underscore-prefixed file Spark's parquet reader
    ignores, like _SUCCESS). Three cases:

    * marker present, matching → OK;
    * marker present, different → ValueError (rebuild required);
    * parquet data present but NO marker → a dir written before the
      marker existed. Its hashes may be scheme-1 — indistinguishable
      from early scheme-2 rows, so the only safe answer is a loud
      rebuild error, never silent mixing (false-negative span misses).

    ``create=True`` (writer path) stamps the marker on a dir that has
    no parquet data yet — BEFORE the first append, so a crash between
    the two writes leaves a marker-only dir (read back as an empty
    index), never data without a marker. A URI path raises before
    anything is created."""
    _require_local(index_dir)
    marker = os.path.join(index_dir, _GRAM_SCHEME_MARKER)
    if os.path.exists(marker):
        with open(marker) as fh:
            found = fh.read().strip()
        if found != str(_GRAM_HASH_SCHEME):
            raise ValueError(
                f"gram index dir {index_dir!r} was written with gram-hash "
                f"scheme {found}, but this code computes scheme "
                f"{_GRAM_HASH_SCHEME}; rebuild the index (hash values are "
                "disjoint across schemes — mixing silently misses spans)"
            )
        return
    if _has_data(index_dir):
        raise ValueError(
            f"gram index dir {index_dir!r} has no gram-hash scheme marker: "
            "it predates the scheme-2 composed gram hashing (r12) and its "
            f"rows cannot be mixed with scheme-{_GRAM_HASH_SCHEME} batches; "
            "rebuild the index from the source docs"
        )
    if create:
        os.makedirs(index_dir, exist_ok=True)
        _stamp_gram_scheme(index_dir)


def ivf_index_stream(
    vectors: DataFrame,
    centroids: list[list[float]],
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> StreamingQuery:
    """Streaming incremental IVF index: each micro-batch of new
    vectors is assigned to its nearest EXISTING cell executor-side
    (`similarity._ivf_index_rows`, the carrying n_probe=1
    assignment, bit-identical to `knn_cosine_ivf`'s corpus side
    including the 1e-12-quantized (-sim, index) tie-break) and
    appended to ``index_dir`` partitioned by cell — completing the
    batch/streaming symmetry the dedup family already has (minhash
    bands, gram index). The quantizer is FIXED at stream start (the
    FAISS operating model: train once, add forever); re-centering is
    offline maintenance (`recenter_ivf_index`).

    Index layout: the replay-watermark protocol (module docstring);
    `read_ivf_index_merged` resolves replays per id and
    `compact_ivf_index` folds history into one snapshot. Query path:
    `similarity.knn_join_ivf_index` over the merged rows — probe + one
    cell equi-join + exact rerank, no fit and no corpus assignment per
    query batch.

    Scale shape per batch: one Arrow GEMM stage over the batch (the
    broadcast centroid matrix is tiny), zero shuffles, O(batch)
    rows appended; the corpus is never re-read or re-assigned."""
    from ..operators.similarity import _ivf_index_rows

    def process(batch_df: DataFrame, batch_id: int) -> None:
        _append_index_rows(
            _ivf_index_rows(batch_df, id_col, vec_col, centroids),
            batch_id, index_dir, "cell",
        )

    return _run_batches(vectors, process, checkpoint_dir)


def read_ivf_index_merged(
    spark: SparkSession,
    index_dir: str,
    id_col: str = "vec_id",
    before_batch: int | None = None,
) -> DataFrame:
    """Merged (id, cell, vector, _cn) view of a streaming IVF index
    directory — the shared replay-watermark read (last-write-wins per
    id). Rows feed `similarity.knn_join_ivf_index` directly."""
    df = spark.read.parquet(index_dir)
    return _row_index_view(df, _snapshot_thru(df), [id_col], before_batch)


def compact_ivf_index(
    spark: SparkSession,
    index_dir: str,
    id_col: str = "vec_id",
    centroids: list[list[float]] | None = None,
    vec_col: str = "embedding",
) -> int:
    """Fold per-batch IVF index rows into ONE snapshot row per vector
    (batch_id = -1, ``thru`` = highest batch folded) via
    write-new-then-swap; returns the snapshot row count. Same
    protocol and single-writer window as `compact_gram_index` /
    `compact_minhash_index`; bounds the one-parquet-append-per-batch
    growth and keeps replays safe across the fold.

    When ``centroids`` (the stream's fixed quantizer) is passed, a
    drift report over the rows being folded is computed FIRST and
    appended to the ``<index_dir>_drift`` history: compaction is the
    natural observation point — it sees exactly the newly-indexed rows
    before they merge into the snapshot baseline. See
    `ivf_index_drift_report` for the metric and SCALING.md
    §Similarity for the recenter trigger thresholds. The report and
    the fold share one read of the dir and one watermark probe."""
    df = spark.read.parquet(index_dir)
    if centroids is not None:
        _append_drift_row(
            spark,
            _ivf_drift(spark, df, _snapshot_thru(df), centroids, id_col, vec_col),
            _DRIFT_REPORT_SCHEMA,
            index_dir,
        )
    return _compact_row_index(df, index_dir, [id_col], "cell")


_DRIFT_REPORT_SCHEMA = (
    "thru long, n_new long, n_snapshot long, "
    "new_mean_cos double, new_p05_cos double, "
    "base_mean_cos double, base_p05_cos double, "
    "mean_cos_drop double, cell_skew double, "
    "cells_used int, n_cells int"
)


def ivf_index_drift_report(
    spark: SparkSession,
    index_dir: str,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Assignment-quality drift of a streaming IVF index vs its fixed
    quantizer: at 100 TB the stream carries assignment against
    centroids fitted once, so a drifting corpus distribution silently
    degrades join recall — the probe stage ranks cells by
    query-to-centroid cosine, and when vectors sit farther from EVERY
    centroid the probed cells overlap the true neighbors' cells less.
    Nothing in the query path measures that; this maintenance op does,
    so the `recenter_ivf_index` decision is a recorded metric, not a
    guess.

    Metrics, over the currently VISIBLE rows (snapshot + above-
    watermark partials, last-write-wins per id — the same resolution
    the read path applies):

    - ``new_mean_cos`` / ``new_p05_cos``: mean and worst-5%-tail
      cosine of the NEWLY-indexed vectors (batch_id > thru) to their
      assigned centroid.
    - ``base_mean_cos`` / ``base_p05_cos``: the same over the
      snapshot rows — the baseline the quantizer was (re)fitted
      against. None before the first compaction.
    - ``mean_cos_drop``: base_mean_cos - new_mean_cos (positive =
      new data assigns worse than the baseline did). None without a
      baseline.
    - ``cell_skew``: max/mean visible cell size (`_cell_sizes`).

    Scale shape: one broadcast of the n_cells×dim centroid matrix,
    one scan with a JVM-side zip_with/aggregate dot product, one
    LWW window (the id-keyed shuffle every merged read already
    pays), two small aggregations. Nothing driver-sized beyond the
    returned dict."""
    df = spark.read.parquet(index_dir)
    return _ivf_drift(spark, df, _snapshot_thru(df), centroids, id_col, vec_col)


def _ivf_drift(
    spark: SparkSession,
    df: DataFrame,
    thru: int | None,
    centroids: list[list[float]],
    id_col: str,
    vec_col: str,
) -> dict:
    """`ivf_index_drift_report` over an opened dir with its ``thru``."""
    import numpy as np

    c = np.asarray(centroids, dtype=np.float64)
    cn = c / np.maximum(np.linalg.norm(c, axis=1), 1e-12)[:, None]
    cent_df = spark.createDataFrame(
        [(int(i), [float(x) for x in row]) for i, row in enumerate(cn)],
        "cell int, _cvec array<double>",
    )
    visible = _latest(_visible(df, thru), [id_col])
    dot = F.aggregate(
        F.zip_with(F.col(vec_col), F.col("_cvec"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = visible.join(F.broadcast(cent_df), "cell").select(
        "batch_id",
        (dot / F.greatest(F.col("_cn"), F.lit(1e-12))).alias("_cos"),
        "cell",
    )
    new, base = _new_vs_snapshot(scored, "_cos", 0.05)
    skew, used = _cell_sizes(scored)
    return {
        "thru": -1 if thru is None else int(thru),
        "n_new": new["n"],
        "n_snapshot": base["n"],
        "new_mean_cos": new["mean"],
        "new_p05_cos": new["q"],
        "base_mean_cos": base["mean"],
        "base_p05_cos": base["q"],
        "mean_cos_drop": base["mean"] - new["mean"]
        if new["n"] and base["n"]
        else None,
        "cell_skew": skew,
        "cells_used": used,
        "n_cells": len(centroids),
    }


def read_ivf_drift_history(spark: SparkSession, index_dir: str) -> DataFrame:
    """The drift-report history `compact_ivf_index(..., centroids=)`
    appends — one row per compaction, keyed by the pre-fold ``thru``
    watermark. The recenter trigger (SCALING.md §Similarity) reads
    the latest row."""
    return spark.read.parquet(index_dir.rstrip("/") + "_drift")


def pq_index_stream(
    vectors: DataFrame,
    coarse_centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    index_dir: str,
    checkpoint_dir: str,
    residual: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> StreamingQuery:
    """Streaming incremental IVF-PQ index: each micro-batch of new
    vectors is coarse-assigned and PQ-encoded against the FIXED
    quantizer/codebooks (`similarity.pq_encode_corpus` — the exact
    stage-1 path `pq_knn_join` runs inline, so the persisted codes
    are bit-identical to an inline encode) and appended to
    ``index_dir`` partitioned by cell, under the shared
    replay-watermark protocol. The compressed twin of
    `ivf_index_stream`: ~m bytes per vector instead of 8·dim — the
    billion-scale regime where the raw vectors don't fit the index.

    Query path: `similarity.pq_knn_join(..., encoded=
    read_pq_index_merged(...))` — the corpus is encoded ONCE, ever;
    each query batch pays probe + one cell equi-join + ADC. Retrain
    (new codebooks/centroids) is an offline rebuild, same as
    `recenter_ivf_index`'s contract.

    Scale shape per batch: shuffle-free encode projections over the
    batch, O(batch) rows appended; corpus never re-read."""
    from ..operators.similarity import pq_encode_corpus

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # recon_err rides along (8 bytes/vector next to the m-byte
        # codes): it is the codebook-fit signal `pq_index_drift_report`
        # trends at compaction time — codes alone can't say how badly
        # they quantize.
        _append_index_rows(
            pq_encode_corpus(
                batch_df.select(id_col, vec_col), coarse_centroids,
                codebooks, residual=residual, id_col=id_col, vec_col=vec_col,
            ).select(id_col, "cell", "codes", "recon_err"),
            batch_id, index_dir, "cell",
        )

    return _run_batches(vectors, process, checkpoint_dir)


def read_pq_index_merged(
    spark: SparkSession,
    index_dir: str,
    id_col: str = "vec_id",
    before_batch: int | None = None,
) -> DataFrame:
    """Merged (id, cell, codes) view of a streaming IVF-PQ index —
    the shared replay-watermark read; rows feed
    `similarity.pq_knn_join(encoded=...)` directly."""
    df = spark.read.parquet(index_dir)
    return _row_index_view(df, _snapshot_thru(df), [id_col], before_batch)


def compact_pq_index(
    spark: SparkSession,
    index_dir: str,
    id_col: str = "vec_id",
    track_drift: bool = False,
) -> int:
    """Fold per-batch IVF-PQ index rows into one snapshot row per
    vector — the shared replay-watermark compaction. With
    ``track_drift=True``, a codebook-fit drift row is recorded to the
    ``<index_dir>_drift`` sidecar first (see
    `pq_index_drift_report`) — the PQ twin of
    `compact_ivf_index(..., centroids=)`."""
    if track_drift:
        _append_drift_row(
            spark,
            pq_index_drift_report(spark, index_dir, id_col=id_col),
            _PQ_DRIFT_REPORT_SCHEMA,
            index_dir,
        )
    return _compact_row_index(
        spark.read.parquet(index_dir), index_dir, [id_col], "cell"
    )


_PQ_DRIFT_REPORT_SCHEMA = (
    "thru long, n_new long, n_snapshot long, "
    "new_mean_err double, new_p95_err double, "
    "base_mean_err double, base_p95_err double, "
    "mean_err_rise double, cell_skew double, cells_used int"
)


def pq_index_drift_report(
    spark: SparkSession, index_dir: str, id_col: str = "vec_id"
) -> dict:
    """Codebook-fit drift of a streaming IVF-PQ index — the PQ twin
    of `ivf_index_drift_report`, watching the OTHER quantizer: the
    codebooks were trained once, so a drifting corpus distribution
    raises reconstruction error, which inflates ADC estimation error
    and silently degrades search quality (the rerank stage can buy
    some of it back, but only inside the candidate pool ADC ranks).
    The index stores no raw vectors — by design, that's the
    compression — so the signal is the ``recon_err`` each row carried
    from encode time: zero extra passes over anything raw.

    Metrics over the currently VISIBLE rows (LWW per id, as the read
    path resolves): ``new_mean_err``/``new_p95_err`` of newly-indexed
    rows (batch_id > thru) vs ``base_mean_err``/``base_p95_err`` of
    the snapshot baseline; ``mean_err_rise`` = new − base (positive =
    codebooks fit the new data worse); visible ``cell_skew``
    (max/mean) — same join-balance signal as the IVF report. Retrain
    trigger guidance in SCALING.md §Similarity.

    Raises loudly on an index whose rows lack ``recon_err`` (written
    by an older `pq_index_stream`): rebuild or re-encode before
    enabling drift tracking — a mixed-schema dir must not silently
    report over a subset."""
    df = spark.read.option("mergeSchema", "true").parquet(index_dir)
    if "recon_err" not in df.columns:
        raise ValueError(
            f"index dir {index_dir!r} has no recon_err column (pre-r12 "
            "layout); rebuild the index before enabling drift tracking"
        )
    thru = _snapshot_thru(df)
    visible = _latest(_visible(df, thru), [id_col])
    if visible.where(F.col("recon_err").isNull()).limit(1).count() > 0:
        raise ValueError(
            f"index dir {index_dir!r} mixes pre- and post-recon_err "
            "rows; rebuild before enabling drift tracking"
        )
    new, base = _new_vs_snapshot(visible, "recon_err", 0.95)
    skew, used = _cell_sizes(visible)
    return {
        "thru": -1 if thru is None else int(thru),
        "n_new": new["n"],
        "n_snapshot": base["n"],
        "new_mean_err": new["mean"],
        "new_p95_err": new["q"],
        "base_mean_err": base["mean"],
        "base_p95_err": base["q"],
        "mean_err_rise": new["mean"] - base["mean"]
        if new["n"] and base["n"]
        else None,
        "cell_skew": skew,
        "cells_used": used,
    }


def read_pq_drift_history(spark: SparkSession, index_dir: str) -> DataFrame:
    """The drift-report history `compact_pq_index(...,
    track_drift=True)` appends — one row per compaction, keyed by the
    pre-fold ``thru`` watermark (same sidecar layout as the IVF
    history)."""
    return read_ivf_drift_history(spark, index_dir)


def recenter_ivf_index(
    spark: SparkSession,
    index_dir: str,
    dim: int,
    n_cells: int,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> list[list[float]]:
    """Offline IVF maintenance (the 'periodic re-center' half of the
    streaming IVF index): refit the quantizer over ALL indexed vectors
    (`similarity.kmeans_centroids` — the same deterministic
    smallest-ids init + Lloyd steps the batch path uses), reassign
    every vector to the refit cells with the same carrying
    assignment, and rebuild the index as one compacted snapshot
    (batch_id = -1, ``thru`` = highest batch folded) via
    write-new-then-swap. Returns the refit centroids — the stream
    (and `knn_join_ivf_index` callers) must switch to them, exactly
    like a FAISS retrain-and-rebuild.

    Single-writer window, same as the compactions. Scale shape: one
    pass to refit (iters × assign+mean), one assignment pass, one
    partitioned write — never more than O(corpus) per step, no
    driver-sized state beyond the n_cells × dim centroid matrix.

    ``centroids``: a precomputed quantizer — when given, the refit
    is SKIPPED and the index rebuilds against these cells (must have
    ``n_cells`` rows of ``dim``). This is the cheap half of the
    drift loop: `kmeans.update_centroids_minibatch` tracks a
    candidate quantizer from each compaction's newly-indexed rows at
    O(batch) cost, and the triggered recenter then pays only the
    O(corpus) reassign+rewrite, not the O(corpus × iters) refit."""
    from ..operators.similarity import _ivf_index_rows, kmeans_centroids

    df = spark.read.parquet(index_dir)
    thru, fold = _watermarks(df)
    vectors = (
        _row_index_view(df, thru, [id_col])
        .select(id_col, vec_col)
        .localCheckpoint(eager=True)
    )
    if centroids is not None:
        if len(centroids) != n_cells or any(
            len(c) != dim for c in centroids
        ):
            raise ValueError(
                f"precomputed centroids must be {n_cells}x{dim}"
            )
    else:
        centroids = kmeans_centroids(
            vectors, dim, n_cells=n_cells, iters=iters,
            id_col=id_col, vec_col=vec_col,
        )
    rebuilt = _ivf_index_rows(vectors, id_col, vec_col, centroids)
    write_swap(_as_snapshot(rebuilt, fold), index_dir, "_recentering", ["cell"])
    return centroids


def read_minhash_index_merged(
    spark: SparkSession,
    index_dir: str,
    id_col: str = "doc_id",
    before_batch: int | None = None,
) -> DataFrame:
    """Merged band-row view of a streaming minhash-index directory
    (the LSH twin of `read_gram_index_merged`): the shared
    replay-watermark read, last-write-wins per (id, band).
    ``before_batch`` bounds the partial rows so a batch never screens
    against its own uncommitted append. Returns plain (id, sig, band,
    bucket) rows — the exact `minhash_index` schema `index_pairs`
    consumes."""
    df = spark.read.parquet(index_dir)
    return _minhash_view(df, _snapshot_thru(df), id_col, before_batch)


def _minhash_view(
    df: DataFrame, thru: int | None, id_col: str, before_batch: int | None = None
) -> DataFrame:
    """`read_minhash_index_merged` over an opened dir with its ``thru``."""
    return _row_index_view(df, thru, [id_col, "band"], before_batch).select(
        id_col, "sig", "band", "bucket"
    )


def compact_minhash_index(spark: SparkSession, index_dir: str) -> int:
    """Fold the per-batch band rows that
    `screen_stream_against_minhash_index` appends into ONE snapshot
    row per (doc, band) — batch_id = -1, ``thru`` = highest batch_id
    folded — via write-new-then-swap. Returns the snapshot row count.

    Same replay-watermark protocol as `compact_gram_index`: a batch
    replayed after its rows were folded is dropped by
    `read_minhash_index_merged`'s watermark instead of re-appearing
    as duplicate band rows; at-least-once stays safe ACROSS
    compactions. Run between batches (single writer). Scale shape:
    one dedup shuffle; output is docs × bands rows, one parquet
    file set per band partition instead of one per batch forever."""
    df = spark.read.parquet(index_dir)
    id_cols = [
        c for c in df.columns if c not in ("batch_id", "thru", "sig", "bucket")
    ]
    return _compact_row_index(df, index_dir, id_cols, "band")


def trim_stream_against_gram_index(
    docs: DataFrame,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_docs: int = 2,
) -> StreamingQuery:
    """Streaming twin of the growing-corpus ExactSubstr trim: each
    micro-batch is span-trimmed against the PERSISTED k-gram index
    (`operators/dedup.trim_batch_against_index` reused unchanged —
    only the batch is tokenized/hashed, indexed text is never
    re-read), the trimmed docs are appended to ``out_dir``, and the
    batch's own ``gram_index`` rows are appended to ``index_dir`` so
    later batches trim against it — the same foreachBatch discipline
    as `screen_stream_against_minhash_index`, with the gram index as
    the on-storage state.

    Index layout: per-batch PARTIAL rows (batch_id, h, n_docs,
    thru=null); the merged read (`read_gram_index_merged`) dedups on
    (batch_id, h) then sums per h, so an at-least-once replayed batch
    (which re-appends identical partial rows) cannot inflate document
    counts — the merged index is idempotent under replay, matching
    the engine's keyed-merge replay story — and `compact_gram_index`
    can fold history into one snapshot row per gram without breaking
    that (its ``thru`` watermark drops post-compaction replays of
    already-folded batches).

    Replay determinism of the TRIM itself: a batch trims against the
    index as it stood before the batch (`_pre_batch_index`), so a
    batch replayed after a failure BETWEEN the index append and the
    checkpoint commit does not see its own grams (which would push
    every batch gram to min_docs via old+new double-counting and
    over-trim the replayed copy). If a compaction folded the
    uncommitted batch into the snapshot, the batch's own gram counts —
    recomputed from the batch, bit-identical to what the snapshot
    folded — are subtracted back out. Either way a replay reproduces
    bit-identical rows, so ``out_dir`` holds only IDENTICAL duplicate
    rows per key and consumers dedup by ``id_col`` (same contract as
    the minhash twin's hits surface).

    Scale shape per batch: batch-sized gram projection, one agg, one
    join against the merged index (bucket/partition the index by
    ``h`` at scale so only the batch shuffles), then per-doc
    reassembly — O(batch), never O(corpus).
    """
    from ..operators.dedup import gram_index, trim_batch_against_index

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # Refuse an index dir of another gram-hash scheme before
        # reading or appending; stamp the current scheme on a fresh dir.
        _check_gram_scheme(index_dir, create=True)
        spark_b = batch_df.sparkSession
        batch = batch_df.select(id_col, text_col).persist()
        own = gram_index(batch, id_col, text_col, k=k).persist()

        def unfold(merged: DataFrame) -> DataFrame:
            # the snapshot folded each (batch, h) exactly once
            return (
                merged.join(
                    own.select("h", F.col("n_docs").alias("_own")), "h", "left"
                )
                .select(
                    "h",
                    (
                        F.col("n_docs") - F.coalesce(F.col("_own"), F.lit(0))
                    ).alias("n_docs"),
                )
                .where(F.col("n_docs") > 0)
            )

        try:
            merged = _pre_batch_index(
                spark_b, index_dir, batch_id, _gram_view, unfold
            )
            if merged is None:  # first batch: no index yet
                merged = spark_b.createDataFrame([], "h long, n_docs long")
            trim_batch_against_index(
                batch, merged, id_col, text_col, k=k, min_docs=min_docs
            ).write.mode("append").parquet(out_dir)
            _append_index_rows(own, batch_id, index_dir)
        finally:
            own.unpersist()
            batch.unpersist()

    return _run_batches(docs, process, checkpoint_dir)


def read_gram_index_merged(
    spark: SparkSession, index_dir: str, before_batch: int | None = None
) -> DataFrame:
    """Merged (h, n_docs) view of a streaming gram-index directory:
    the visible partial rows plus at most one compacted snapshot,
    deduped on (batch_id, h) and summed per h. Replay-idempotent BOTH
    ways: a replayed batch with batch_id <= thru is dropped by the
    watermark filter (its counts already live in the snapshot); a
    replayed batch above the watermark re-appends identical
    (batch_id, h) rows and dedups away. One tiny driver action (the
    max-watermark probe) per read.

    ``before_batch``: upper bound on the partial rows included —
    only batch_id < before_batch contributes (snapshot rows always
    pass; they are bounded by their own ``thru``). The streaming
    trim passes its current batch_id here so a replayed batch never
    trims against its own (uncommitted-checkpoint) index append.
    """
    _check_gram_scheme(index_dir)
    df = spark.read.parquet(index_dir)
    return _gram_view(df, _snapshot_thru(df), before_batch)


def _gram_view(
    df: DataFrame, thru: int | None, before_batch: int | None = None
) -> DataFrame:
    """`read_gram_index_merged` over an opened dir with its ``thru``."""
    return _merged_partials(
        _visible(df, thru, before_batch), ["h"], F.sum("n_docs").alias("n_docs")
    )


def compact_gram_index(spark: SparkSession, index_dir: str) -> int:
    """Compact the per-batch partial gram-index rows that
    `trim_stream_against_gram_index` appends into ONE snapshot row
    per distinct gram (batch_id = -1, ``thru`` = the highest batch_id
    folded in), via the write-new-then-swap protocol. Returns the
    compacted row count (distinct grams).

    Why: the streaming twin appends one partial row per (batch, gram)
    forever, so every trim re-aggregates all history; after
    compaction the merged read sees one row per gram. The ``thru``
    watermark keeps the at-least-once contract intact ACROSS the
    compaction: a batch replayed after its rows were folded in is
    dropped by `read_gram_index_merged`'s watermark filter instead of
    double-counting. Run between batches (single writer — the
    `write_swap` window); the trigger=availableNow drain or a stopped
    stream gives it. The scheme marker is stamped on the new dir
    before the swap, so the compacted dir stays readable.

    Scale shape: one shuffle on h (the sum), one 24-byte row per
    distinct gram out; at scale write bucketed by h so trim joins
    partition-prune.
    """
    _check_gram_scheme(index_dir)
    df = spark.read.parquet(index_dir)
    thru, fold = _watermarks(df)
    return _swap_snapshot(
        _gram_view(df, thru), fold, index_dir, "_compacting",
        before_swap=_stamp_gram_scheme,
    )


# --- more keyed state ------------------------------------------------


def zscore_stream(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    window: int = 20,
    min_n: int = 12,
    threshold: float = 2.0,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming twin of the batch `rolling_zscore_anomalies` query:
    per-key trailing-window anomaly detection with the window carried
    across micro-batches in the state store. State is BOUNDED by
    construction — the last ``window`` integer-cents values per key,
    never the key's history.

    Exactness contract (same as the batch plan): values go to integer
    cents, Σx/Σx² are exact Python ints, and the z computation
    evaluates the literal same float expression in the same order as
    the batch query — with in-order arrival the flagged set is
    identical (pinned by test_stateful_streaming). The frame holds
    only PRIOR events, so an anomaly cannot mask itself.

    Emits one row per anomaly: (key, id, cents, window_n, zscore).
    """
    import math

    import pandas as pd

    def update(key, pdfs, state):
        win = list(state.get[0]) if state.exists else []
        rows = []
        for pdf in pdfs:
            pdf = pdf.sort_values([ts_col, id_col], kind="mergesort")
            for eid, v in zip(pdf[id_col], pdf[value_col]):
                c = int(round(float(v) * 100))
                n = len(win)
                if n >= min_n:
                    s1 = sum(win)
                    s2 = sum(x * x for x in win)
                    var_num = n * s2 - s1 * s1
                    if var_num > 0:
                        # operand order mirrors the batch expression
                        z = (c - s1 / n) / math.sqrt(
                            var_num / (float(n) * (n - 1))
                        )
                        if abs(z) > threshold:
                            rows.append((key[0], int(eid), c, n, z))
                win.append(c)
                if len(win) > window:
                    win.pop(0)
        state.update((win,))
        if rows:
            yield pd.DataFrame(
                rows,
                columns=[key_col, id_col, "cents", "window_n", "zscore"],
            )

    return _keyed_state(
        events, key_col, ts_col, watermark, update,
        f"{key_col} long, {id_col} long, cents long, "
        "window_n int, zscore double",
        "win array<long>",
        output_mode="append",
    )


def sequence_pattern_stream(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
    first: str = "signup",
    second: str = "purchase",
    third: str = "error",
    max_span_micros: int = 604_800_000_000,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming twin of `operators/scd.sequence_pattern_matches`:
    strict A<B<C chain detection with the chain state carried across
    micro-batches. State per key is THREE long timestamps (last A,
    last B, and the A that was current when that B happened) — the
    same information the batch plan's two carried last_value passes
    hold, so the state is O(1) regardless of history length.

    Detection runs BEFORE the current event updates the state
    (mirroring the batch frames' `1 PRECEDING` exclusion), so an
    event never completes a chain with itself. With in-order arrival
    the emitted chain set is identical to the batch operator (pinned
    by test_stateful_streaming on the real events table).

    Emits one row per completed chain:
    (key, first_ts, second_ts, third_ts, span_micros).
    """
    import pandas as pd

    NONE = -1

    def update(key, pdfs, state):
        a_ts, b_ts, ba_ts = state.get if state.exists else (NONE, NONE, NONE)
        rows = []
        for pdf in pdfs:
            pdf = pdf.sort_values([ts_col, id_col], kind="mergesort")
            ts_us = pdf[ts_col].astype("int64") // 1000
            for tsu, typ in zip(ts_us, pdf[type_col]):
                tsu = int(tsu)
                if typ == third and b_ts != NONE:
                    span = tsu - ba_ts
                    if span <= max_span_micros:
                        rows.append((key[0], ba_ts, b_ts, tsu, span))
                if typ == first:
                    a_ts = tsu
                elif typ == second and a_ts != NONE:
                    b_ts = tsu
                    ba_ts = a_ts
        state.update((a_ts, b_ts, ba_ts))
        if rows:
            yield pd.DataFrame(
                {
                    key_col: [r[0] for r in rows],
                    "first_ts": pd.to_datetime(
                        [r[1] for r in rows], unit="us"
                    ),
                    "second_ts": pd.to_datetime(
                        [r[2] for r in rows], unit="us"
                    ),
                    "third_ts": pd.to_datetime(
                        [r[3] for r in rows], unit="us"
                    ),
                    "span_micros": [r[4] for r in rows],
                }
            )

    return _keyed_state(
        events, key_col, ts_col, watermark, update,
        f"{key_col} long, first_ts timestamp, second_ts timestamp, "
        "third_ts timestamp, span_micros long",
        "a_ts long, b_ts long, ba_ts long",
        output_mode="append",
    )


def kmeans_assign_stream(
    vectors: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Streaming nearest-centroid assignment: route arriving
    embeddings to k-means cells (cluster-tagged intake for SemDeDup /
    cluster-balanced sampling downstream). `kmeans.assign` is a pure
    stateless projection — literal-centroid argmin, no shuffle, no
    state store — so the SAME operator runs unchanged on a streaming
    plan; the equivalence test pins batch/stream parity row-for-row.
    Centroids come from a batch `kmeans.lloyd` fit (train batch,
    serve streaming — the standard split)."""
    from ..operators.kmeans import assign

    return assign(vectors, centroids, id_col=id_col, vec_col=vec_col)


# --- partial-state sinks ---------------------------------------------


def heavy_hitters_stream(
    rows: DataFrame,
    col: str,
    summary_dir: str,
    checkpoint_dir: str,
    k: int = 16,
) -> StreamingQuery:
    """Streaming frequent-items maintenance: each micro-batch reduces
    to its own bounded Misra–Gries summary (`sketch.heavy_hitters`,
    ≤ k rows per input partition, undercount ≤ n_batch/(k+1)) which
    is APPENDED to the persisted summary table — the same
    "the index IS the state" discipline as the MinHash screen: no
    engine state store, and the distinct-item cardinality never
    materializes anywhere.

    Read side: `merged_heavy_hitters` sums the stored partials —
    undercounts add to ≤ N_total/(k+1) across any number of batches,
    so the batch operator's presence/estimate theorems carry over to
    the stream unchanged. Replay-safe under the partial-state
    protocol: the reader dedups (batch_id, item) first."""
    from ..operators.sketch import heavy_hitters

    return _partials_stream(
        rows, lambda b: heavy_hitters(b, col, k=k), summary_dir, checkpoint_dir
    )


def ivm_join_view_stream(
    stream_df: DataFrame,
    dim_df: DataFrame,
    on,
    group_by,
    state_cols,
    states_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming twin of `operators/ivm.py` for the stream⋈static
    case: each insert-only micro-batch Δ appends its own view delta
    γ(Δ⋈dim) as SUM-mergeable state partials tagged with batch_id —
    the state table IS the maintained view ("the index is the
    state"), no engine state store, base join never recomputed.
    Replay safety: at-least-once retries re-append identical
    (batch_id, keys) rows; `merged_join_view` dedups them before the
    merge, so retries cannot double-count. For stream⋈stream views
    the batch operator's three-term expansion applies per pair of
    batch ledgers — out of scope here (interval joins cover the
    engine's stream-stream surface)."""
    from ..operators import ivm

    return _partials_stream(
        stream_df,
        lambda b: ivm.join_agg_states(b, dim_df, on, group_by, state_cols),
        states_dir,
        checkpoint_dir,
    )


def merged_join_view(
    spark: SparkSession, states_dir: str, group_by, state_names
) -> DataFrame:
    """Current view state: SUM-merge the stored per-batch deltas
    after (batch_id, keys) replay dedup."""
    return _merged_partials(
        spark.read.parquet(states_dir),
        group_by,
        *[F.sum(n).alias(n) for n in state_names],
    )


def merged_heavy_hitters(
    spark: SparkSession, summary_dir: str, col: str
) -> DataFrame:
    """(item, est) over every stored batch summary; replay-safe via
    (batch_id, item) dedup before the sum."""
    return _merged_partials(
        spark.read.parquet(summary_dir), [col], F.sum("est").alias("est")
    )


def distinct_users_sketch_stream(
    events: DataFrame,
    summary_dir: str,
    checkpoint_dir: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    lg_k: int = 12,
) -> StreamingQuery:
    """Streaming distinct-count maintenance via mergeable HLL
    sketches: each micro-batch reduces to one (day, sketch) row
    (`hll_sketch_agg` — KBs regardless of batch size) appended to the
    summary table; `merged_distinct_users` unions the stored partials
    per day with `hll_union_agg`. Same the-index-is-the-state /
    replay-safe (batch_id dedup) discipline as `heavy_hitters_stream`
    — and the batch twin `hll_sketch_weekly_users` proves the merge
    algebra against exact counts."""

    def partial(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.select(F.to_date(ts_col).alias("day"), F.col(key_col))
            .groupBy("day")
            .agg(F.hll_sketch_agg(key_col, F.lit(lg_k)).alias("sketch"))
        )

    return _partials_stream(events, partial, summary_dir, checkpoint_dir)


def merged_distinct_users(spark: SparkSession, summary_dir: str) -> DataFrame:
    """(day, distinct_users) from the stored sketch partials —
    replay-safe via (batch_id, day) dedup before the union-merge."""
    return _merged_partials(
        spark.read.parquet(summary_dir),
        ["day"],
        F.hll_sketch_estimate(F.hll_union_agg("sketch", F.lit(True))).alias(
            "distinct_users"
        ),
    )


def constraint_report_stream(
    rows: DataFrame,
    rules: dict,
    report_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming data-quality monitoring: every micro-batch runs the
    one-scan `checks.constraint_report` suite and appends its
    O(rules) summary rows stamped with the batch id — the
    metrics-repository-over-time pattern (deequ's), on the same
    the-index-is-the-state discipline as the sketch streams. Alerting
    is a filter on the stored table (`passed = false`); replay-safe
    via (batch_id, constraint) dedup at read."""
    from ..operators.checks import constraint_report

    return _partials_stream(
        rows, lambda b: constraint_report(b, rules), report_dir, checkpoint_dir
    )


def constraint_history(spark: SparkSession, report_dir: str) -> DataFrame:
    """(batch_id, constraint, n_rows, n_violations, passed) — the
    stored quality time series, deduped for at-least-once appends."""
    return _merged_partials(spark.read.parquet(report_dir), ["constraint"])


def running_user_totals_tws(events: DataFrame, key_col: str = "user_id",
                            ts_col: str = "ts", value_col: str = "value",
                            watermark: str = "30 minutes") -> DataFrame:
    """`running_user_totals` re-expressed on the Spark 4
    ``transformWithStateInPandas`` API (StatefulProcessor + typed
    state handles) — the successor to ``applyInPandasWithState``:
    state is a named ValueState the engine stores per key (RocksDB
    provider required; the caller's session must set
    ``spark.sql.streaming.stateStore.providerClass``, see
    ``enable_tws``), and the processor is a class with an explicit
    lifecycle instead of a closure over a state tuple.

    Emits the same (key, n_events, total_value, last_ts) cumulative
    rows per micro-batch as the legacy twin; the equivalence test
    pins the two APIs to identical output on the same stream.

    Environment gate: the transformWithState state protocol needs
    the ``protobuf`` package at runtime (the engine imports nothing
    extra itself) — on hosts without it the query fails at start
    with STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE and the
    equivalence test skips; ``running_user_totals`` is the
    dependency-free path with identical semantics.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "totals", "n long, total double, last_us long"
            )

        def handleInputRows(self, key, rows, timerValues):
            if self._state.exists():
                n, total, last_us = self._state.get()
            else:
                n, total, last_us = 0, 0.0, None
            for pdf in rows:
                n += len(pdf)
                total += float(pdf[value_col].sum())
                batch_max = pdf[ts_col].max()
                if batch_max is not None:
                    us = int(batch_max.value // 1_000)
                    if last_us is None or us > last_us:
                        last_us = us
            self._state.update((n, total, last_us))
            yield pd.DataFrame(
                {
                    key_col: [key[0]],
                    "n_events": [n],
                    "total_value": [round(total, 6)],
                    "last_ts": [pd.Timestamp(last_us * 1_000)
                                if last_us is not None else None],
                }
            )

        def close(self) -> None:
            pass

    out_schema = (
        f"{key_col} long, n_events long, total_value double, "
        "last_ts timestamp"
    )
    return _watermarked(events, ts_col, watermark).groupBy(
        key_col
    ).transformWithStateInPandas(
        statefulProcessor=RunningTotals(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )


def enable_tws(spark: SparkSession) -> None:
    """Switch the session's state store to the RocksDB provider —
    transformWithState requires it (the default HDFS-backed provider
    rejects the operator). Safe to call repeatedly; affects only
    streaming state storage."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )


def cms_stream(
    rows: DataFrame,
    col: str,
    sketch_dir: str,
    checkpoint_dir: str,
    depth: int = 4,
    width: int = 256,
) -> StreamingQuery:
    """Streaming Count-Min maintenance: each micro-batch reduces to
    its own (depth×width)-bounded cell table (sketch.cms_table),
    appended with its batch_id — the index-is-the-state discipline.
    Because CMS cells are DETERMINISTIC-bucket plain sums, the
    merged stream sketch is cell-for-cell IDENTICAL to the batch
    sketch over the same rows (not merely bound-equivalent like the
    Misra–Gries stream) — asserted exactly by the parity test."""
    from ..operators.sketch import cms_table

    return _partials_stream(
        rows,
        lambda b: cms_table(b, col, depth=depth, width=width),
        sketch_dir,
        checkpoint_dir,
    )


def merged_cms(spark: SparkSession, sketch_dir: str) -> DataFrame:
    """(r, bucket, cnt) summed over every stored batch sketch;
    replay-safe via (batch_id, r, bucket) dedup before the sum."""
    return _merged_partials(
        spark.read.parquet(sketch_dir), ["r", "bucket"],
        F.sum("cnt").alias("cnt"),
    )


def quantile_summary_stream(
    rows: DataFrame,
    col: str,
    summary_dir: str,
    checkpoint_dir: str,
    k: int = 64,
    parts: int = 8,
) -> StreamingQuery:
    """Streaming quantile maintenance: each micro-batch compacts to
    its own ≤ k-row-per-partition (value, weight) summary
    (sketch.quantile_summary), appended with its batch_id — the
    index-is-the-state discipline, like cms_stream. Summaries merge
    by CONCATENATION (weights are additive), so the merged stream
    summary obeys the same Σ_p ⌈n_p/k⌉ rank-error theorem as a batch
    summary whose partitioning is (batches × partitions) — the
    streaming case is just MORE partitions, which the bound already
    quantifies. Raw values never persist; state is O(k · batches ·
    partitions) rows and compacts further by re-summarizing."""
    from ..operators.sketch import quantile_summary

    # The sink is partitioned by batch_id (the overwrite-this-batch
    # replay guarantee below needs it). A summary_dir in the older
    # flat layout mixes root-level parquet files with batch_id=N/
    # subdirectories, which Spark's partition discovery rejects —
    # detected ONCE at stream setup (the stream itself only ever
    # writes the partitioned layout) with a clear migration error
    # instead of a deep partition-discovery failure. Resolved through
    # the Hadoop FileSystem API so s3://, hdfs://, and file:// sinks
    # are all inspected — a local-only glob silently never fires on
    # object-store URIs.
    def _reject_flat_legacy_sink() -> None:
        spark = rows.sparkSession
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        path = jvm.org.apache.hadoop.fs.Path(summary_dir)
        fs = path.getFileSystem(hconf)
        if not fs.exists(path):
            return
        flat = [
            st.getPath().getName()
            for st in fs.listStatus(path)
            if st.isFile() and st.getPath().getName().endswith(".parquet")
        ]
        if flat:
            raise ValueError(
                f"quantile_summary_stream: {summary_dir} holds "
                f"{len(flat)} root-level parquet file(s) from the "
                "pre-r6 flat layout; the sink is now partitioned by "
                "batch_id and Spark rejects mixed layouts. Migrate "
                "once (read old files, write each batch_id group to "
                "batch_id=N/ subdirectories) or point the stream at "
                "a fresh summary_dir."
            )

    _reject_flat_legacy_sink()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # Replay safety needs BOTH (per-partition compaction is
        # partitioning-dependent, so a retried batch could otherwise
        # append a DIFFERENT weight for the same (batch_id, value) and
        # keyed dedup would keep an arbitrary one, corrupting merged
        # mass):
        #  1. hash-repartition by value into ``parts`` partitions
        #     BEFORE compaction — each partition's value-multiset
        #     (and the sorted compaction of it) is then a pure
        #     function of batch content, not of upstream
        #     partitioning. ``parts`` trades per-batch compaction
        #     parallelism against summary size (state is ≤ k·parts
        #     rows per batch);
        #  2. overwrite THIS batch's partition instead of blind
        #     append — a retry replaces its own output wholesale, so
        #     no mixed-attempt state can exist on disk.
        # collapse to one row per value: (batch_id, value) becomes a
        # KEY, so replay dedup can't eat a legitimately repeated
        # (value, weight) row emitted by two partitions
        (
            quantile_summary(
                batch_df.repartition(parts, F.col(col)), col, k=k
            )
            .groupBy("value")
            .agg(F.sum("weight").alias("weight"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(summary_dir)
        )

    return _run_batches(rows, process, checkpoint_dir)


def merged_quantile_summary(spark: SparkSession, summary_dir: str) -> DataFrame:
    """(value, weight) across every stored batch summary — summaries
    add by concatenation; replay-safe because (batch_id, value) is a
    key of the stored rows (a re-delivered batch re-appends the same
    rows, deduped before use)."""
    return _merged_partials(spark.read.parquet(summary_dir), ["value"]).select(
        "value", "weight"
    )


def bloom_ingest_stream(
    rows: DataFrame,
    col: str,
    words_dir: str,
    verdicts_dir: str,
    checkpoint_dir: str,
    m_bits: int = 4096,
    k: int = 2,
) -> StreamingQuery:
    """Streaming first-seen screen over a growing portable Bloom
    filter: each micro-batch's keys are tested against the filter
    accumulated from EARLIER batches (seen = possibly-already-
    ingested; unseen = definitely new — Bloom has no false
    negatives), verdicts are appended, then the batch's own bits are
    appended to ``words_dir``. The filter state is append-only
    (word_idx, word) rows whose merge is bit_or — IDEMPOTENT, so a
    replayed batch re-ORs the same bits and the merged filter is
    byte-identical (stronger than the batch_id-dedup the counting
    sketches need; verdicts still carry batch_id for keyed dedup
    downstream). The index is the state: no engine state store, and
    the merged filter stays ≤ m/32 rows forever."""
    from ..operators.sketch import bloom_contains, bloom_words, bloom_words_map

    def process(batch_df: DataFrame, batch_id: int) -> None:
        keys = batch_df.select(col)
        words = _read_or_none(batch_df.sparkSession, words_dir)
        if words is None:  # first batch: empty filter
            verdicts = keys.select(col, F.lit(False).alias("maybe_seen"))
        else:
            wm = bloom_words_map(
                words.groupBy("word_idx").agg(F.bit_or("word").alias("word"))
            )
            verdicts = keys.crossJoin(F.broadcast(wm)).select(
                col,
                bloom_contains(F.col(col), m_bits, k, F.col("m")).alias(
                    "maybe_seen"
                ),
            )
        _append_partial(verdicts, batch_id, verdicts_dir)
        _append_partial(bloom_words(keys, col, m_bits, k), batch_id, words_dir)

    return _run_batches(rows, process, checkpoint_dir)


def merged_bloom_words(spark: SparkSession, words_dir: str) -> DataFrame:
    """The current filter: bit_or over every stored word row —
    idempotent under replay by construction (re-ORing is a no-op)."""
    return (
        spark.read.parquet(words_dir)
        .groupBy("word_idx")
        .agg(F.bit_or("word").alias("word"))
    )


def cdc_apply_stream(
    changes: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    key_col: str = "user_id",
    seq_cols: tuple[str, str] = ("us", "event_id"),
    op_col: str = "op",
    value_cols: tuple[str, ...] = ("cents",),
) -> StreamingQuery:
    """Streaming CDC materialization — the incremental twin of the
    batch `cdc_user_state_apply` query: each micro-batch of I/U/D
    change rows is merged into the persisted current-state table
    (last-writer by the exact (seq, tiebreak) order; a key whose
    LAST op is a delete leaves the table), and the new state is
    promoted with the two-rename atomic swap (``state_dir`` must be a
    local path; a URI raises ValueError before the query starts).

    Exactly-once: the merge is a pure function of (old state ∪
    batch) ranked by the monotone sequence columns, so a replayed
    batch reproduces the same state — idempotent like the freshness
    merge in stream_merge_to_staging. DELETE is the one op MERGE's
    upsert semantics can't express by accumulation; here it rides
    the same last-writer window as a tombstone row that filters out
    at emit. State stays one row per live key."""
    _require_local(state_dir)
    seq_a, seq_b = seq_cols
    cols = [key_col, seq_a, seq_b, op_col, *value_cols]

    def process(batch_df: DataFrame, batch_id: int) -> None:
        incoming = batch_df.select(*cols)
        state = _read_or_none(batch_df.sparkSession, state_dir)
        merged = (
            incoming if state is None
            else state.select(*cols).unionByName(incoming)
        )
        # Tombstones (last op = D) STAY in the state table: dropping
        # them would let a replayed pre-delete U out-rank nothing and
        # resurrect the key. Readers filter via read_cdc_state.
        write_swap(
            _latest(merged, [key_col], (seq_a, seq_b)), state_dir, "_next"
        )

    return _run_batches(changes, process, checkpoint_dir)


def read_cdc_state(
    spark: SparkSession, state_dir: str, op_col: str = "op"
) -> DataFrame:
    """Live view over the CDC state table: tombstoned keys (last op
    = delete) are filtered out here, never from storage."""
    return spark.read.parquet(state_dir).where(F.col(op_col) != "D")


def drift_counts_stream(
    rows: DataFrame,
    counts_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming two-sample drift-state maintenance: each micro-batch
    reduces to its own (event_type, value, ca, cb) count table — the
    shared state of ``value_ks_test`` / ``value_mannwhitney_test``
    (plans/queries.drift_value_counts) — appended with its batch_id;
    the index-is-the-state discipline of cms_stream. Counts merge by
    SUM, so the merged stream state is row-identical to the batch
    state over the same rows, and every statistic derived from it
    (KS D, Mann-Whitney U/z, decisions) is EXACTLY the batch value —
    not an approximation. Asserted by the parity test."""
    from ..plans.queries import drift_value_counts

    return _partials_stream(rows, drift_value_counts, counts_dir, checkpoint_dir)


def merged_drift_counts(spark: SparkSession, counts_dir: str) -> DataFrame:
    """(event_type, value, ca, cb) summed across every stored batch
    count table; replay-safe because (batch_id, event_type, value) is
    a key of the stored rows (a re-delivered batch re-appends the
    same rows, deduped before the sum)."""
    return _merged_partials(
        spark.read.parquet(counts_dir),
        ["event_type", "value"],
        F.sum("ca").alias("ca"),
        F.sum("cb").alias("cb"),
    )


def embedding_stats_stream(
    rows: DataFrame,
    stats_dir: str,
    checkpoint_dir: str,
    vec_col: str = "embedding",
) -> StreamingQuery:
    """Streaming embedding-moment maintenance: each micro-batch
    reduces to its 64-row per-dimension state (dim, n, Σq, Σq²) on
    the isotropy audit's 1e-6 integer grid, appended with its
    batch_id. All three moments are ADDITIVE integers, so the merged
    stream state is exactly the batch state and every derived
    statistic (mean vector, per-dim variance, the ||Σq||²-identity
    isotropy ratio) is EXACTLY the batch value — the embedding twin
    of drift_counts_stream."""

    def partial(batch_df: DataFrame) -> DataFrame:
        q = batch_df.select(
            F.posexplode(vec_col).alias("pos", "x")
        ).select(
            "pos",
            F.floor(F.col("x").cast("double") * F.lit(1000000.0))
            .cast("bigint")
            .alias("q"),
        )
        return q.groupBy("pos").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("q").alias("sd"),
            F.sum(
                F.col("q").cast("decimal(19,0)")
                * F.col("q").cast("decimal(19,0)")
            ).alias("td"),
        )

    return _partials_stream(rows, partial, stats_dir, checkpoint_dir)


def merged_embedding_stats(spark: SparkSession, stats_dir: str) -> DataFrame:
    """(pos, n, sd, td) summed over every stored batch state;
    replay-safe via (batch_id, pos) dedup before the sums."""
    return _merged_partials(
        spark.read.parquet(stats_dir),
        ["pos"],
        F.sum("n").alias("n"),
        F.sum("sd").alias("sd"),
        F.sum("td").alias("td"),
    )
