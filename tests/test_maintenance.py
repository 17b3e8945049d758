"""Small-file compaction: bounded file counts, identical data,
restored in-file sort, atomic swap."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from reddit_hn_etl_spark.sources.maintenance import (
    compact_partitions,
    plan_compaction,
)


def _fragmented_table(spark, root):
    # 3 event dates × 8 tiny appends each — the streaming-ingest
    # fragmentation shape.
    for i in range(8):
        rows = [
            (d * 100 + i * 10 + k, f"2024-01-0{d}", float(i))
            for d in (1, 2, 3)
            for k in range(10)
        ]
        (
            spark.createDataFrame(rows, "id long, event_date string, v double")
            .repartition(2)
            .write.mode("append")
            .partitionBy("event_date")
            .parquet(root)
        )


def _files_per_partition(root):
    out = {}
    for p in sorted(glob.glob(os.path.join(root, "event_date=*"))):
        out[os.path.basename(p)] = len(glob.glob(os.path.join(p, "*.parquet")))
    return out


def test_plan_compaction_counts(spark, tmp_path):
    root = str(tmp_path / "frag")
    _fragmented_table(spark, root)
    plan = {
        # hive partition values come back type-inferred (DATE here)
        str(r.event_date): (r.n_rows, r.n_files)
        for r in plan_compaction(
            spark.read.parquet(root), ["event_date"], rows_per_file=30
        ).collect()
    }
    assert plan == {f"2024-01-0{d}": (80, 3) for d in (1, 2, 3)}


def test_compact_rewrites_bounded_sorted_identical(spark, tmp_path):
    root = str(tmp_path / "frag2")
    _fragmented_table(spark, root)
    before = _files_per_partition(root)
    assert all(n >= 8 for n in before.values())  # genuinely fragmented
    data_before = sorted(
        (r.id, str(r.event_date), r.v)
        for r in spark.read.parquet(root).collect()
    )

    n = compact_partitions(
        spark, root, ["event_date"], sort_col="id", rows_per_file=30
    )
    assert n == 3
    after = _files_per_partition(root)
    assert set(after) == set(before)
    assert all(n_files <= 3 for n_files in after.values())
    data_after = sorted(
        (r.id, str(r.event_date), r.v)
        for r in spark.read.parquet(root).collect()
    )
    assert data_after == data_before  # byte-for-byte same rows
    # in-file sort restored: every file individually ordered by id
    for path in glob.glob(os.path.join(root, "event_date=*", "*.parquet")):
        ids = [r.id for r in spark.read.parquet(path).collect()]
        assert ids == sorted(ids)
    # no temp/old dirs left behind
    assert not os.path.exists(root + "_compacting")
    assert not os.path.exists(root + "_old")


def test_write_globally_sorted_total_order(spark, tmp_path):
    import glob
    import os

    from reddit_hn_etl_spark.sources.maintenance import write_globally_sorted

    rows = [(int(x),) for x in [(i * 7919) % 10007 for i in range(5000)]]
    df = spark.createDataFrame(rows, "k long").repartition(16)
    out = str(tmp_path / "sorted")
    write_globally_sorted(df, out, ["k"], num_files=8)

    files = sorted(glob.glob(os.path.join(out, "part-*.parquet")))
    assert len(files) == 8
    prev_max = None
    total = 0
    for f in files:
        ks = [r.k for r in spark.read.parquet(f).collect()]
        assert ks == sorted(ks)  # sorted within file
        if ks:
            if prev_max is not None:
                assert prev_max <= ks[0]  # ordered ACROSS files
            prev_max = ks[-1]
        total += len(ks)
    assert total == 5000


def test_zvalue_interleaves_bits(spark):
    from reddit_hn_etl_spark.sources.maintenance import zvalue

    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (3, 5), (65535, 65535)], "x long, y long"
    )
    out = {(r.x, r.y): r.z for r in df.select("x", "y", zvalue("x", "y").alias("z")).collect()}

    def morton(x, y):
        z = 0
        for i in range(16):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    assert out == {(x, y): morton(x, y) for (x, y) in out}


def test_write_zordered_prunes_both_columns(spark, tmp_path):
    """Every z-ordered file covers a small (x, y) rectangle, so footer
    min/max stats prune on EITHER column; a linearly sorted layout
    leaves every file spanning the full y domain."""
    import glob
    import os

    from reddit_hn_etl_spark.sources.maintenance import (
        write_globally_sorted,
        write_zordered,
    )

    n = 64  # 64x64 grid, every cell once
    rows = [(x, y) for x in range(n) for y in range(n)]
    df = spark.createDataFrame(rows, "x long, y long").repartition(16)

    zdir, ldir = str(tmp_path / "zord"), str(tmp_path / "lin")
    write_zordered(df, zdir, ["x", "y"], num_files=16)
    write_globally_sorted(df, ldir, ["x", "y"], num_files=16)

    import pyarrow.parquet as pq

    def boxes(d):
        out = []
        for f in sorted(glob.glob(os.path.join(d, "part-*.parquet"))):
            md = pq.ParquetFile(f).metadata
            xs, ys = [], []
            for rg in range(md.num_row_groups):
                row_group = md.row_group(rg)
                for ci in range(row_group.num_columns):
                    col = row_group.column(ci)
                    name = col.path_in_schema
                    st = col.statistics
                    if name == "x":
                        xs += [st.min, st.max]
                    elif name == "y":
                        ys += [st.min, st.max]
            out.append(((min(xs), max(xs)), (min(ys), max(ys))))
        return out

    zb, lb = boxes(zdir), boxes(ldir)
    assert len(zb) == len(lb) == 16
    # Z-order: every file's span is a fraction of the domain on BOTH
    # axes (16 files over a 64x64 grid → rectangles ~16x64 or 32x32;
    # assert < half the domain area).
    for (x0, x1), (y0, y1) in zb:
        area = (x1 - x0 + 1) * (y1 - y0 + 1)
        assert area <= (n * n) // 2, zb
    # Linear sort: y spans the (almost) full domain in every
    # non-boundary file — the pruning failure z-order fixes.
    full_y = sum(1 for (_, (y0, y1)) in lb if (y1 - y0 + 1) >= n)
    assert full_y >= len(lb) - 2, lb


def test_erase_keys_rewrites_atomically(spark, tmp_path):
    """GDPR erasure: targeted rows gone, everything else intact,
    audit counts correct, table readable throughout (swap, not
    in-place edit)."""
    from pyspark.sql import functions as F

    from reddit_hn_etl_spark.sources.maintenance import erase_keys

    t = str(tmp_path / "users_tbl")
    spark.range(100).select(
        F.col("id").alias("user_id"), (F.col("id") * 2).alias("v")
    ).write.parquet(t)

    audit = erase_keys(spark, t, "user_id", [3, 7, 99, 12345])
    assert audit == {"rows_before": 100, "rows_erased": 3, "rows_after": 97}

    left = spark.read.parquet(t)
    assert left.count() == 97
    assert left.where(F.col("user_id").isin([3, 7, 99])).count() == 0
    assert left.where(F.col("user_id") == 4).count() == 1
    # no leftover temp/old dirs
    import os

    assert os.listdir(tmp_path) == ["users_tbl"]


def test_swaps_refuse_uri_paths(spark, tmp_path, monkeypatch):
    """Both swaps rename through os/shutil (`localfs.write_swap`),
    which would take ``s3://bucket/t`` for the relative local path
    ``s3:/bucket/t`` and a ``file://`` URI for a path that does not
    exist after Spark wrote next to it. Each refuses a URI with a
    ValueError naming it before anything is read or written."""
    import re

    import pytest

    from reddit_hn_etl_spark.sources.maintenance import erase_keys

    monkeypatch.chdir(tmp_path)
    root = str(tmp_path / "tbl")
    _fragmented_table(spark, root)
    before = sorted(os.listdir(tmp_path))
    for uri in ("s3://bucket/t", "file://" + root):
        with pytest.raises(ValueError, match=f"{re.escape(uri)}.*URI"):
            compact_partitions(spark, uri, ["event_date"], "id", rows_per_file=10)
        with pytest.raises(ValueError, match=f"{re.escape(uri)}.*URI"):
            erase_keys(spark, uri, "id", [1])
    assert not (tmp_path / "s3:").exists()
    assert sorted(os.listdir(tmp_path)) == before
