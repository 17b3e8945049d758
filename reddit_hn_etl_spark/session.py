"""SparkSession factory pinned for deterministic, scale-ready execution.

The reference (`RCepenco/reddit-hn-etl`) delegates all planning to
PostgreSQL and pandas; our engine delegates to Catalyst. The session
config below is the *entire* "optimizer configuration" surface we need
(SURVEY.md §4.2):

- ``spark.sql.session.timeZone=UTC``: the reference builds timestamptz
  values from UTC epochs (`src/transform/hn_transform.py:88`) and
  day-buckets with ``::date`` (`sql/mart/02_marts.sql:13`). Identical
  day-bucketing requires a UTC session.
- AQE on (+ skew-join + partition coalescing): runtime re-planning for
  skewed grouping keys (author/domain at 100 TB) and small shuffles.
- ``shuffle.partitions`` sized by env (default 32 for local[32]); on a
  real cluster this is set to ~2-3x total cores by the submitter.
- Arrow enabled for any pandas-interop path (Pandas UDFs in the
  north-star text/similarity ops).
- ``spark.sql.codegen.cache.maxEntries=1024``: the generated-class
  cache is an LRU keyed by generated source, 100 entries by default.
  One pass of the engine's repeated plans compiles a larger working
  set (perfbench, 4 cores): about 456 classes for the operator set
  (curation, the pair kernels, the graph loops, kNN) and about 136
  for the HN landing cycle. An LRU smaller than a repeated cycle evicts every class
  before its next use, so each pass recompiled all of its code with
  Janino and the JIT compiled the new classes again. At 1024 entries a
  warm pass compiles 0-24 classes on either set. Memory: the kept
  classes live in metaspace, which read 48 MB after one warm operator
  pass against 52 MB at 100 entries (evicted classes linger until a
  GC unloads them). It is a static conf, read when the JVM's first
  session starts; a session that already runs keeps its value.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_session(
    app_name: str = "reddit-hn-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with the engine's pinned config.

    Config keys already fixed in an existing session are left as-is
    (Spark ignores builder config for an already-running session), so
    tests share one JVM safely.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )

    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return spark
