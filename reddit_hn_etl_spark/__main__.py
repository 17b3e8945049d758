"""CLI: run the full pipeline over a directory of raw HN batch files.

    python -m reddit_hn_etl_spark --raw-dir raw/ --out warehouse/ [--all-batches]

Phases (mirrors `src/pipeline.py:8-13`, re-expressed as one Spark app):
  1. select batch(es)  — lexicographic latest by default (S7)
  2. transform         — raw JSON → typed staging (P1-P9 + A6)
  3. merge             — freshness-gated upsert into the staging table (A7)
  4. marts             — 3 aggregate marts, atomically published (A1-A3, D5)
  5. checks            — fail-fast validators in-pipeline (§5)
All audited (K5). Exit code 0/1 is the phase result
(`src/load/hn_load.py:174-175`).
"""

from __future__ import annotations

import argparse
import glob
import os
import sys

from .audit import AuditLog
from .logging_utils import get_logger
from .plans import hn_pipeline as hp
from .session import get_session
from .sources import batches, publish


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="reddit_hn_etl_spark")
    ap.add_argument(
        "--raw-dir", help="directory of hn_raw_*.json (HN pipeline modes)"
    )
    ap.add_argument(
        "--out",
        help="warehouse root directory (required for pipeline modes; "
        "unused by --list-versions/--rollback)",
    )
    ap.add_argument(
        "--all-batches",
        action="store_true",
        help="process every raw batch in name order (default: latest only)",
    )
    ap.add_argument(
        "--incremental-marts",
        action="store_true",
        help="rebuild only the mart date-partitions touched by this "
        "run's batches (dynamic partition overwrite) instead of the "
        "atomic full refresh",
    )
    ap.add_argument(
        "--stream",
        action="store_true",
        help="ingest via Structured Streaming (foreachBatch merge over "
        "JSONL files in --raw-dir; drains available files then stops)",
    )
    ap.add_argument(
        "--env-file",
        default=".env",
        help="env file loaded before the session builds (reference "
        "load_dotenv parity; missing file is a no-op; real env wins)",
    )
    ap.add_argument(
        "--curate-docs",
        metavar="PARQUET",
        help="run the corpus-curation pipeline over a documents "
        "parquet (quality gate → lang filter → exact dedup → "
        "near-dup clusters) instead of the HN pipeline; writes "
        "kept/fate/stats tables to --out (atomic publish); "
        "--raw-dir is ignored",
    )
    ap.add_argument(
        "--keep-policy",
        choices=("min_id", "best_quality"),
        default="min_id",
        help="near-dup cluster representative for --curate-docs",
    )
    ap.add_argument(
        "--export-corpus",
        metavar="PARQUET",
        help="curate a documents parquet and export TRAINING SHARDS: "
        "quality/lang/dedup → content-hash train/val split → "
        "token-budget shard packing; writes shards (partitioned by "
        "split/shard_id) + manifest + stats to --out (atomic "
        "publish); --raw-dir is ignored",
    )
    ap.add_argument(
        "--tokens-per-shard",
        type=int,
        default=2000,
        help="token budget per shard for --export-corpus",
    )
    ap.add_argument(
        "--compact",
        metavar="TABLE_DIR",
        help="compact a hive-partitioned parquet table in place "
        "(bounded files per partition, in-file sort restored, atomic "
        "swap) instead of running a pipeline; --raw-dir is ignored",
    )
    ap.add_argument(
        "--compact-partition-cols",
        default="event_date",
        help="comma-separated hive partition columns for --compact",
    )
    ap.add_argument(
        "--compact-sort-col",
        default="id",
        help="in-file sort column for --compact",
    )
    ap.add_argument(
        "--compact-rows-per-file",
        type=int,
        default=1_000_000,
        help="target rows per output file for --compact",
    )
    ap.add_argument(
        "--cluster-embeddings",
        help="standalone mode: k-means-cluster an embeddings parquet "
        "(vec_id, embedding) and publish assignments + prototypes + "
        "centroids under <out>/clusters",
    )
    ap.add_argument(
        "--kmeans-k", type=int, default=8, help="clusters for --cluster-embeddings"
    )
    ap.add_argument(
        "--kmeans-iters", type=int, default=5,
        help="Lloyd rounds for --cluster-embeddings",
    )
    ap.add_argument(
        "--pca-embeddings",
        help="standalone mode: PCA over an embeddings parquet "
        "(vec_id, embedding) — exact-int covariance, top-2 "
        "components by rounded power iteration, per-vector "
        "projections — published under <out>/pca",
    )
    ap.add_argument(
        "--list-versions",
        metavar="ROOT",
        help="ops mode: print retained publish versions (live one "
        "marked) of a versioned warehouse root and exit; no Spark "
        "session is started",
    )
    ap.add_argument(
        "--rollback",
        nargs=2,
        metavar=("ROOT", "VERSION"),
        help="ops mode: atomically re-point a versioned warehouse "
        "root at an older retained version and exit (incident "
        "response; no data rewrite, no Spark session)",
    )
    args = ap.parse_args(argv)

    if args.list_versions:
        live = publish.current_version(args.list_versions)
        for v in publish.list_versions(args.list_versions):
            mark = "  <- live" if v == live else ""
            print(f"v={v}{mark}")
        return 0
    if args.rollback:
        root, version = args.rollback
        prev = publish.rollback(root, version)
        print(f"rolled back {root}: {prev} -> {version}")
        return 0

    from .config import load_env_file

    if not args.out:
        ap.error("--out is required for pipeline modes")
    if (
        not args.curate_docs
        and not args.compact
        and not args.export_corpus
        and not args.cluster_embeddings
        and not args.pca_embeddings
        and not args.raw_dir
    ):
        ap.error(
            "--raw-dir is required unless --curate-docs, --compact, "
            "--export-corpus, --cluster-embeddings or "
            "--pca-embeddings is given"
        )

    load_env_file(args.env_file)
    spark = get_session(app_name="reddit-hn-etl-spark")
    log = get_logger("reddit_hn_etl_spark", "pipeline.log")
    spark.sparkContext.setLogLevel("ERROR")
    audit = AuditLog(spark, os.path.join(args.out, "audit_runs"))
    staging_root = os.path.join(args.out, "staging")

    if args.export_corpus:
        from .plans import llm_data_pipeline as ldp

        rec = audit.start_run("export", source_file=args.export_corpus)
        try:
            docs = spark.read.parquet(args.export_corpus)
            shards, manifest = ldp.export_training_shards(
                docs,
                config=ldp.CurationConfig(keep_policy=args.keep_policy),
                tokens_per_shard=args.tokens_per_shard,
            )
            stats = ldp.corpus_stats(shards)
            version = publish.publish_tables(
                {
                    "shards": shards.repartition("split", "shard_id")
                    .sortWithinPartitions("split", "shard_id", "doc_id"),
                    "shard_manifest": manifest,
                    "corpus_stats": stats,
                },
                os.path.join(args.out, "export"),
            )
            n_docs = shards.count()
            n_shards = manifest.count()
            audit.succeed(rec, rows_copied=n_docs, inserted=n_shards, updated=0)
            log.info(
                f"export {os.path.basename(args.export_corpus)}: "
                f"docs={n_docs} shards={n_shards} "
                f"budget={args.tokens_per_shard} version={version}"
            )
        except Exception as exc:  # noqa: BLE001 - audit then fail
            audit.fail(rec, exc)
            log.error(f"export failed: {exc}")
            return 1
        return 0

    if args.cluster_embeddings:
        from .operators import kmeans

        rec = audit.start_run("cluster", source_file=args.cluster_embeddings)
        try:
            emb = spark.read.parquet(args.cluster_embeddings).select(
                "vec_id", "embedding"
            )
            emb.cache().count()  # every Lloyd round re-reads this
            assigned, cents, inertia = kmeans.lloyd(
                emb, k=args.kmeans_k, n_iter=args.kmeans_iters
            )
            protos = kmeans.prototypes(assigned)
            cent_rows = [
                (i, [float(x) for x in c]) for i, c in enumerate(cents)
            ]
            centroids = spark.createDataFrame(
                cent_rows, "cluster_id int, centroid array<double>"
            )
            version = publish.publish_tables(
                {
                    "cluster_assignments": assigned,
                    "cluster_prototypes": protos,
                    "cluster_centroids": centroids,
                },
                os.path.join(args.out, "clusters"),
            )
            n = assigned.count()
            emb.unpersist()
            audit.succeed(rec, rows_copied=n, inserted=args.kmeans_k, updated=0)
            log.info(
                f"cluster {os.path.basename(args.cluster_embeddings)}: "
                f"n={n} k={args.kmeans_k} iters={args.kmeans_iters} "
                f"inertia={inertia:.4f} version={version}"
            )
        except Exception as exc:  # noqa: BLE001 - audit then fail
            audit.fail(rec, exc)
            log.error(f"clustering failed: {exc}")
            return 1
        return 0

    if args.pca_embeddings:
        from .operators import pca

        rec = audit.start_run("pca", source_file=args.pca_embeddings)
        try:
            emb = spark.read.parquet(args.pca_embeddings).select(
                "vec_id", "embedding"
            )
            dim = len(emb.select("embedding").first()["embedding"])
            cov = pca.covariance(emb, dim=dim).localCheckpoint(eager=True)
            comp1 = pca.top_component(cov, dim=dim)
            comp2 = pca.deflated_component(cov, dim=dim)
            l1 = [
                r["loading"]
                for r in sorted(comp1.collect(), key=lambda r: r["pos"])
            ]
            l2 = [
                r["loading2"]
                for r in sorted(comp2.collect(), key=lambda r: r["pos"])
            ]
            proj = pca.project(
                pca.project(emb, l1, out_col="pc1"), l2, out_col="pc2"
            ).select("vec_id", "pc1", "pc2")
            version = publish.publish_tables(
                {
                    "pca_projections": proj,
                    "pca_component1": comp1,
                    "pca_component2": comp2,
                    "pca_covariance": cov,
                },
                os.path.join(args.out, "pca"),
            )
            n = proj.count()
            audit.succeed(rec, rows_copied=n, inserted=2, updated=0)
            log.info(
                f"pca {os.path.basename(args.pca_embeddings)}: "
                f"n={n} dim={dim} version={version}"
            )
        except Exception as exc:  # noqa: BLE001 - audit then fail
            audit.fail(rec, exc)
            log.error(f"pca failed: {exc}")
            return 1
        return 0

    if args.compact:
        from .sources.maintenance import compact_partitions

        rec = audit.start_run("compact", source_file=args.compact)
        try:
            n = compact_partitions(
                spark,
                args.compact,
                [c for c in args.compact_partition_cols.split(",") if c],
                sort_col=args.compact_sort_col,
                rows_per_file=args.compact_rows_per_file,
            )
            audit.succeed(rec, rows_copied=n, inserted=0, updated=n)
            log.info(f"compact {args.compact}: {n} partitions rewritten")
        except Exception as exc:  # noqa: BLE001 - audit then fail
            audit.fail(rec, exc)
            log.error(f"compaction failed: {exc}")
            return 1
        return 0

    if args.curate_docs:
        from .plans import llm_data_pipeline as ldp

        rec = audit.start_run("curate", source_file=args.curate_docs)
        try:
            docs = spark.read.parquet(args.curate_docs)
            kept, fate = ldp.curate_corpus(
                docs,
                config=ldp.CurationConfig(keep_policy=args.keep_policy),
            )
            stats = ldp.corpus_stats(kept)
            version = publish.publish_tables(
                {"curated_docs": kept, "curation_fate": fate,
                 "corpus_stats": stats},
                os.path.join(args.out, "curated"),
            )
            n_kept = kept.count()
            n_total = docs.count()
            audit.succeed(
                rec, rows_copied=n_kept, inserted=n_kept,
                updated=n_total - n_kept,
            )
            log.info(
                f"curate {os.path.basename(args.curate_docs)}: "
                f"kept={n_kept}/{n_total} policy={args.keep_policy} "
                f"version={version}"
            )
        except Exception as exc:  # noqa: BLE001 - audit then fail
            audit.fail(rec, exc)
            log.error(f"curation failed: {exc}")
            return 1
        return 0

    if args.stream:
        from .streaming.ingest import read_raw_stream, stream_merge_to_staging

        rec = audit.start_run("stream_ingest", source_file=args.raw_dir)
        try:
            q = stream_merge_to_staging(
                read_raw_stream(spark, args.raw_dir),
                staging_root,
                os.path.join(args.out, "checkpoint"),
                available_now=True,
            )
            q.awaitTermination()
            n = spark.read.parquet(staging_root).count()
            audit.succeed(rec, rows_copied=n, inserted=0, updated=0)
            log.info(f"stream ingest drained: staging rows={n}")
        except Exception as exc:  # noqa: BLE001
            audit.fail(rec, exc)
            log.error(f"stream ingest failed: {exc}")
            return 1
        staging = batches.read_staging(spark, staging_root)
        rec = audit.start_run("mart")
        try:
            marts = hp.build_marts(staging)
            version = publish.publish_tables(marts, os.path.join(args.out, "marts"))
            total = sum(df.count() for df in marts.values())
            audit.succeed(rec, rows_copied=total, inserted=0, updated=0)
            log.info(f"marts published: version={version} rows={total}")
        except Exception as exc:  # noqa: BLE001
            audit.fail(rec, exc)
            log.error(f"mart refresh failed: {exc}")
            return 1
        return 0

    if args.all_batches:
        paths = sorted(glob.glob(os.path.join(args.raw_dir, "hn_raw_*.json")))
        if not paths:
            log.error(f"no raw batches in {args.raw_dir}")
            return 1
    else:
        try:
            paths = [batches.latest_file_by_name(args.raw_dir, "hn_raw_*.json")]
        except FileNotFoundError as exc:
            log.error(str(exc))
            return 1

    target = None
    if os.path.isdir(staging_root) and glob.glob(staging_root + "/*"):
        target = batches.read_staging(spark, staging_root)

    staged_batches = []
    for path in paths:
        rec = audit.start_run("load", source_file=os.path.basename(path))
        try:
            ts = batches.parse_ts_from_raw_filename(path)
            staged = hp.transform_raw(batches.read_raw_batch(spark, path), ts)
            hp.validate_staging(staged)
            staged_batches.append(staged)
            rows = staged.count()
            if target is None:
                target, metrics = staged, None
                inserted, updated = rows, 0
            else:
                target, metrics = hp.load_merge(target, staged)
                inserted, updated = metrics.inserted, metrics.updated
            audit.succeed(rec, rows_copied=rows, inserted=inserted, updated=updated)
            log.info(
                f"load {os.path.basename(path)}: rows={rows} "
                f"inserted={inserted} updated={updated}"
            )
        except Exception as exc:  # noqa: BLE001 - audit then fail (ref protocol)
            audit.fail(rec, exc)
            log.error(f"load failed for {path}: {exc}")
            return 1

    # Persist the merged staging table (overwrite = the reconciled state).
    rec = audit.start_run("staging_publish")
    try:
        # write-new-then-promote keeps readers consistent
        from .localfs import write_swap

        write_swap(target, staging_root, "_next")
        n = spark.read.parquet(staging_root).count()
        audit.succeed(rec, rows_copied=n, inserted=0, updated=0)
    except Exception as exc:  # noqa: BLE001
        audit.fail(rec, exc)
        log.error(f"staging publish failed: {exc}")
        return 1

    rec = audit.start_run("mart")
    try:
        staging = batches.read_staging(spark, staging_root)
        if args.incremental_marts:
            batch_union = staged_batches[0]
            for b in staged_batches[1:]:
                batch_union = batch_union.unionByName(b)
            dates = hp.refresh_marts_incremental(
                staging, batch_union, os.path.join(args.out, "marts_inc")
            )
            audit.succeed(rec, rows_copied=len(dates), inserted=0, updated=0)
            log.info(f"marts incrementally refreshed: dates={sorted(map(str, dates))}")
        else:
            marts = hp.build_marts(staging)
            version = publish.publish_tables(marts, os.path.join(args.out, "marts"))
            hp.run_mart_checks(staging, marts)
            total = sum(df.count() for df in marts.values())
            audit.succeed(rec, rows_copied=total, inserted=0, updated=0)
            log.info(f"marts published: version={version} rows={total}")
    except Exception as exc:  # noqa: BLE001
        audit.fail(rec, exc)
        log.error(f"mart refresh failed: {exc}")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
