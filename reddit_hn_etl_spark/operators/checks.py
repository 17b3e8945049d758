"""Validation / quality-check operators.

The reference enforces correctness at runtime, not via tests
(SURVEY.md §5): fail-fast assertions in the transform
(`src/transform/hn_transform.py:53-65,113-114`), post-load SQL checks
(`sql/load/04_checks.sql:1-8`), and mart checks
(`sql/mart/03_checks.sql:1-27`). PostgreSQL constraints (PK, NOT NULL,
CHECK) are declarative invariants (`sql/load/02_tmp.sql:3-16`,
`sql/load/01_audit.sql:9`).

Spark has no enforced constraints, so each becomes an operator that
*computes violations as a DataFrame* (cheap aggregations; all
partial-aggregatable) plus an ``assert_*`` wrapper that raises — the
checks run as part of the pipeline, not after it
(`src/mart/hn_mart.py:42-47`).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class CheckFailure(AssertionError):
    """A pipeline data-quality check failed (fail-fast, ref §5.1)."""


def duplicate_keys(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """GROUP BY key HAVING COUNT(*) > 1 (`sql/load/04_checks.sql:5-8`).

    Returns (keys..., dup_count) for violating keys; empty = pass.
    """
    return (
        df.groupBy(*keys)
        .agg(F.count("*").alias("dup_count"))
        .where(F.col("dup_count") > 1)
    )


def null_violations(df: DataFrame, not_null_cols: Sequence[str]) -> DataFrame:
    """Rows violating NOT NULL constraints (`sql/load/02_tmp.sql:3-16`)."""
    cond = None
    for c in not_null_cols:
        clause = F.col(c).isNull()
        cond = clause if cond is None else (cond | clause)
    return df.where(cond) if cond is not None else df.limit(0)


def table_summary(df: DataFrame, ts_col: str | None = None) -> DataFrame:
    """COUNT(*) + optional MIN/MAX timestamp range
    (`sql/load/04_checks.sql:1-3`, `sql/mart/03_checks.sql:2-5`)."""
    aggs = [F.count("*").alias("row_count")]
    if ts_col is not None:
        aggs += [F.min(ts_col).alias("min_ts"), F.max(ts_col).alias("max_ts")]
    return df.agg(*aggs)


def assert_unique_key(df: DataFrame, keys: Sequence[str]) -> None:
    """PK-duplicate probe expected to return 0 rows (`README.md:233-240`)."""
    bad = duplicate_keys(df, keys).limit(1).collect()
    if bad:
        raise CheckFailure(f"duplicate keys {list(keys)}: e.g. {bad[0].asDict()}")


def assert_not_null(df: DataFrame, cols: Sequence[str]) -> None:
    bad = null_violations(df, cols).limit(1).collect()
    if bad:
        raise CheckFailure(f"NULL in NOT NULL columns {list(cols)}")


def assert_non_empty(df: DataFrame, what: str = "result") -> None:
    """Fail-fast empty guard (`src/transform/hn_transform.py:113-114`,
    `src/load/hn_load.py:100-103`)."""
    if not df.limit(1).collect():
        raise CheckFailure(f"{what} produced 0 rows")


def assert_cast_lossless(
    df: DataFrame, src_col: str, cast_col: str
) -> None:
    """Parity with pandas ``errors='raise'`` casts
    (`src/transform/hn_transform.py:77-78`): Spark casts are
    permissive under non-ANSI mode, so verify the cast introduced no
    new nulls."""
    bad = df.where(
        F.col(src_col).isNotNull() & F.col(cast_col).isNull()
    ).limit(1).collect()
    if bad:
        raise CheckFailure(f"cast {src_col} -> {cast_col} introduced NULLs")


def constraint_report(
    df: DataFrame, rules: dict[str, "F.Column"]
) -> DataFrame:
    """Declarative verification suite in ONE scan (the deequ/dbt-test
    shape; extends the reference's hand-written post-load checks,
    `sql/load/04_checks.sql`, `sql/mart/03_checks.sql`, into a
    reusable operator): every rule is a boolean Column evaluated with
    SQL CHECK-constraint semantics — NULL passes, only FALSE violates
    (PostgreSQL CHECK behavior, matching the reference's declared
    constraints in `sql/load/02_tmp.sql`).

    All rules aggregate in a single partial-aggregatable pass — one
    scan, one 1-row shuffle, regardless of how many rules — then the
    1-row summary explodes into (constraint, n_rows, n_violations,
    passed). Add referential rules via `referential_violations`.
    """
    aggs = [F.count("*").alias("_n_rows")] + [
        F.sum(
            (~F.coalesce(rule, F.lit(True))).cast("long")
        ).alias(f"_v_{i}")
        for i, rule in enumerate(rules.values())
    ]
    one = df.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(name).alias("constraint"),
                F.col(f"_v_{i}").alias("n_violations"),
            )
            for i, name in enumerate(rules.keys())
        ]
    )
    return (
        one.select(F.col("_n_rows"), F.explode(entries).alias("e"))
        .select(
            F.col("e.constraint").alias("constraint"),
            F.col("_n_rows").alias("n_rows"),
            F.coalesce(F.col("e.n_violations"), F.lit(0)).alias(
                "n_violations"
            ),
        )
        .withColumn("passed", F.col("n_violations") == 0)
    )


def referential_violations(
    child: DataFrame,
    parent: DataFrame,
    fk: str,
    pk: str,
    constraint: str,
) -> DataFrame:
    """Foreign-key orphan count as one constraint_report-shaped row:
    children whose non-NULL fk has no parent pk (NULL fk passes, SQL
    FK semantics). Left-anti join on the key — broadcast when the
    parent is dim-sized, shuffle-hash otherwise; AQE decides. Fully
    lazy (two 1-row aggregates cross-joined), so it unions with
    `constraint_report` into one DAG and one job."""
    n = child.agg(F.count("*").alias("n_rows"))
    o = (
        child.where(F.col(fk).isNotNull())
        .join(parent, F.col(fk) == parent[pk], "left_anti")
        .agg(F.count("*").alias("n_violations"))
    )
    return n.crossJoin(o).select(
        F.lit(constraint).alias("constraint"),
        "n_rows",
        "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
    )
