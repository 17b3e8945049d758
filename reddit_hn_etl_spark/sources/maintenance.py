"""Table maintenance: small-file compaction for partitioned parquet.

Streaming ingest and frequent small batches fragment a partitioned
table into thousands of KB-sized files (`streaming/ingest.py` appends
per micro-batch; `write_staging_batch` per run). At 100 TB that is an
operational failure mode in its own right: scan task count explodes,
the driver holds file metadata for every fragment, and row-group
min/max skipping degrades because each fragment's stats span the
whole key range.

``compact_partitions`` rewrites each hive partition into a bounded
number of files, restoring the in-file sort so parquet min/max
skipping works again, and publishes atomically (write to a fresh
directory, then a filesystem rename swap — the same
crash-safe-publish discipline as `sources/publish.py`; readers never
observe a half-compacted table).

Scale shape: one job, one shuffle — rows hash into
``ceil(partition_rows / rows_per_file)`` buckets WITHIN each hive
partition (repartition on (partition_cols, bucket)), then
``sortWithinPartitions`` restores the sort key order per output
file. Partition row counts come from one metadata-cheap count
aggregation, not a per-partition driver loop — compacting 10⁵
partitions issues the same single job as 10.

The reference has no compaction (Postgres autovacuums); this is
Spark-operational surface the reference's users get from the
warehouse for free and a parquet-lake user must own.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..localfs import require_local, write_swap

_SWAPPED = "compacted and erased tables"


def plan_compaction(
    df: DataFrame,
    partition_cols: Sequence[str],
    rows_per_file: int,
) -> DataFrame:
    """Per-hive-partition file plan: (partition_cols..., n_rows,
    n_files) where n_files = ceil(n_rows / rows_per_file). One
    aggregation job; used by ``compact_partitions`` and handy as a
    dry-run report."""
    return (
        df.groupBy(*partition_cols)
        .agg(F.count("*").alias("n_rows"))
        .withColumn(
            "n_files",
            F.ceil(F.col("n_rows") / F.lit(int(rows_per_file))).cast("int"),
        )
    )


def compact_partitions(
    spark: SparkSession,
    root: str,
    partition_cols: Sequence[str],
    sort_col: str,
    rows_per_file: int,
) -> int:
    """Rewrite a hive-partitioned parquet table with bounded file
    sizes and restored in-file sort; atomic swap. Returns the number
    of hive partitions rewritten.

    Row-count-based sizing (not bytes): row width is roughly constant
    within a table, counts are exact pre-write, and the knob maps
    directly to the scan-task memory budget. The deterministic row →
    bucket assignment (hash of the sort key mod n_files) makes reruns
    byte-stable for identical input. ``root`` must be a local path (a
    ``scheme://`` URI raises ``ValueError`` before anything is read or
    written): the swap is two local renames.
    """
    require_local(root, _SWAPPED)
    pcols = list(partition_cols)
    df = spark.read.parquet(root)
    plan = plan_compaction(df, pcols, rows_per_file).select(
        *pcols, "n_files"
    )
    # n_files is tiny (one row per hive partition) — broadcast join,
    # then ONE shuffle on (partition, bucket) sizes every output file.
    bucketed = (
        df.join(F.broadcast(plan), on=pcols)
        .withColumn(
            "_bucket",
            F.pmod(F.xxhash64(F.col(sort_col)), F.col("n_files")).cast("int"),
        )
        .drop("n_files")
    )
    # Counted before the swap: `plan` reads the files the swap deletes.
    n_parts = plan.count()
    write_swap(
        bucketed.repartition(*[F.col(c) for c in pcols], F.col("_bucket"))
        # sort must LEAD with the partition columns: FileFormatWriter
        # requires task rows ordered by them and would otherwise
        # insert its own (non-stable) sort on just the partition
        # cols, destroying the sort_col order inside each file
        .sortWithinPartitions(*pcols, sort_col)
        .drop("_bucket"),
        root, "_compacting", pcols,
    )
    return n_parts


def write_globally_sorted(
    df: DataFrame,
    path: str,
    sort_cols: Sequence[str],
    num_files: int,
) -> None:
    """Export with a TOTAL order across output files: range-partition
    on the sort key (sampled bounds), sort within each partition, one
    file per partition. Because range partition i holds strictly
    lower keys than partition i+1 and part-file index equals partition
    id, the concatenation of files in name order is globally sorted —
    the layout that makes a corpus binary-searchable / mergeable by
    key without any reader-side sort.

    One range exchange + per-partition sort; NO single-task global
    sort (the ORDER-BY-then-write trap collapses to one writer at
    scale... it doesn't in Spark — `orderBy.write` also range
    partitions — but this form states the contract explicitly and
    controls the file count).
    """
    cols = [F.col(c) for c in sort_cols]
    (
        df.repartitionByRange(int(num_files), *cols)
        .sortWithinPartitions(*cols)
        .write.mode("errorifexists")
        .parquet(path)
    )


def zvalue(x: Column | str, y: Column | str, bits: int = 16) -> Column:
    """Morton (Z-order) interleave of two non-negative ints, LOW
    ``bits`` bits each → one long. Built from shift/mask expressions
    only, so it stays inside whole-stage codegen — no UDF."""
    xc = (F.col(x) if isinstance(x, str) else x).cast("long")
    yc = (F.col(y) if isinstance(y, str) else y).cast("long")
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(xc, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(yc, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_cols: Sequence[str],
    num_files: int,
    bits: int = 16,
) -> None:
    """Z-order-clustered export (the Delta/Iceberg OPTIMIZE ZORDER
    layout, expressed with stock Spark): rows are range-partitioned
    and sorted by the Morton interleave of the two cluster columns,
    so EVERY output file covers a small rectangle in (x, y) space and
    parquet footer min/max stats prune scans on EITHER column — a
    linear sort gives tight stats on the first column only, leaving
    every file's range on the second column spanning the full domain.

    Same execution shape as ``write_globally_sorted`` (one range
    exchange, per-partition sort, no global single-task sort); only
    the ordering key changes. Columns must be non-negative ints that
    fit ``bits`` bits (cap/offset upstream otherwise)."""
    if len(zorder_cols) != 2:
        raise ValueError("write_zordered clusters exactly two columns")
    z = zvalue(zorder_cols[0], zorder_cols[1], bits=bits).alias("_z")
    (
        df.withColumn("_z", z)
        .repartitionByRange(int(num_files), F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("errorifexists")
        .parquet(path)
    )


def erase_keys(
    spark: SparkSession,
    table_dir: str,
    key_col: str,
    values: Sequence,
) -> dict:
    """Right-to-erasure (GDPR Art. 17) rewrite: remove every row
    whose ``key_col`` is in ``values`` from a parquet table,
    publishing atomically (fresh directory + two-rename swap — the
    compaction discipline, so readers never observe a half-erased
    table) and returning an audit dict
    ``{"rows_before", "rows_erased", "rows_after"}``.

    Scale shape: one scan with the NOT-IN filter pushed to parquet
    (a literal key list; for large erasure sets broadcast an
    anti-join frame instead), one rewrite. Parquet is immutable —
    erasure IS a rewrite; what this operator adds is atomicity and
    the audit trail. Old versions/backups must be vacuumed separately
    for the erasure to be complete (publish.vacuum). ``table_dir`` must
    be a local path, as for ``compact_partitions``.
    """
    require_local(table_dir, _SWAPPED)
    df = spark.read.parquet(table_dir)
    before = df.count()
    vals = list(values)
    kept = df.where(~F.col(key_col).isin(vals) | F.col(key_col).isNull())
    write_swap(kept, table_dir, "_erasing")
    after = spark.read.parquet(table_dir).count()
    return {
        "rows_before": before,
        "rows_erased": before - after,
        "rows_after": after,
    }
