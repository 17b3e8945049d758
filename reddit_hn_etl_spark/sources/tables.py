"""Table readers over the driver testdata and staged parquet layouts.

Reference analogue: the parquet scan (`src/load/hn_load.py:78`) and the
postgres table scans implicit in every mart query
(`sql/mart/02_marts.sql:17`) — SURVEY.md §2.1 S5/S6.

At scale: ``spark.read.parquet`` gives vectorized columnar scans with
predicate pushdown and column pruning for free; callers should filter
and select immediately after reading so Catalyst can push both into
the scan.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table (`TESTDATA.md`) as a DataFrame.

    ``events.ts`` is written as parquet TIMESTAMP(NANOS), which the
    Spark vectorized reader rejects. We read it via the
    ``nanosAsLong`` escape hatch and truncate to microseconds with
    *integer* division (nanos since epoch exceed 2^53, so double
    division would silently lose precision) — matching DuckDB's
    nanos→micros truncation.
    """
    # Date bucketing (F6) must be UTC regardless of who built the
    # session (the driver builds its own): runtime conf, cheap to pin.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        return df
    return spark.read.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 16,
    sort_col: str | None = None,
) -> None:
    """Persist as a bucketed (hash-partitioned-on-disk) catalog table.

    Bucketing pre-shuffles data at WRITE time: two tables bucketed on
    the same key into the same bucket count join with NO exchange at
    read time — the co-located-join strategy for repeated big-big
    joins at 100 TB (pay the shuffle once, amortize over every join).
    ``sortBy`` additionally pre-sorts within buckets so sort-merge
    joins skip the sort too.
    """
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # A crashed previous write can leave the managed location behind
    # without a catalog entry; clear it so saveAsTable can recreate.
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    loc = os.path.join(warehouse.removeprefix("file:"), table.lower())
    if os.path.isdir(loc):
        shutil.rmtree(loc, ignore_errors=True)
    writer = df.write.mode("overwrite").bucketBy(num_buckets, bucket_col)
    if sort_col is not None:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table)


def read_catalog_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)
