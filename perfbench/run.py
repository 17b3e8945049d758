"""Benchmark entry point: one workload, one seed, one timed window.

    python3 perfbench/run.py --workload hn_etl --seed 1 --seconds 10 --trace 0

Run from the repository root. Set-up (session start, input generation,
input load, one untimed warm-up pass) is timed as ``setup_s``; then
whole passes of the workload repeat in a closed loop on one driver
thread until ``--seconds`` have elapsed. Every pass's outputs are
checked against pure-Python reference models.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` enables an
uncompressed Spark event log, alternates traced and untraced passes and
prints the per-layer metrics instead. The last line of standard output
is one JSON object; the exit code is non-zero when any output check or
operation failed. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import contextlib
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

from spans import SpanLog, coverage, layer_metrics, parse_event_log
from workloads import WORKLOADS, Meter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Kept across runs in one checkout: the JVM class-data-sharing archives
CACHE = os.path.join(ROOT, ".perfbench_cache")

# Per-layer measures reported for each operation; a measure is listed
# only where it can read non-zero (a lazy call runs no build jobs, and
# a call whose result the benchmark does not act on has no exec phase).
ALL = ("build_s", "exec_s", "build_jobs", "shuffle_write_mb", "core_util")
EAGER = ("build_s", "build_jobs", "shuffle_write_mb", "core_util")
PAIRS = ALL + ("yield",)
LAZY_PAIRS = ("build_s", "exec_s", "shuffle_write_mb", "core_util", "yield")
LAZY_BUILD = ("build_s",)
LAYER_MEASURES = {
    "sources.batches.read_raw_batch": LAZY_BUILD,
    "plans.hn_pipeline.transform_raw": LAZY_BUILD,
    "plans.hn_pipeline.validate_staging": EAGER,
    "operators.merge.merge_upsert": ALL,
    "plans.hn_pipeline.write_staging_partitioned": EAGER,
    "sources.batches.read_staging": ("build_s", "build_jobs"),
    "plans.hn_pipeline.build_marts": LAZY_BUILD,
    "sources.publish.publish_tables": EAGER,
    "plans.hn_pipeline.run_mart_checks": EAGER,
    "plans.hn_pipeline.refresh_marts_incremental": EAGER,
    "plans.llm_data_pipeline.curate_corpus": ALL,
    "operators.dedup.jaccard_pairs": PAIRS,
    "operators.dedup.jaccard_pairs_prefix": LAZY_PAIRS,
    "operators.dedup.jaccard_pairs_cross": LAZY_PAIRS,
    "operators.dedup.containment_pairs": PAIRS,
    "operators.similarity.tf_cosine_pairs": PAIRS,
    "operators.graph.connected_components": ALL,
    "operators.graph.pagerank": ALL,
    "operators.graph.kcore": ALL,
    "operators.graph.label_propagation": ALL,
    "operators.similarity.knn_cosine_ivf": ALL,
    "operators.similarity.pq_encode_corpus": ("build_s", "exec_s", "core_util"),
    "operators.similarity.pq_knn_join": ("build_s", "exec_s", "shuffle_write_mb", "core_util"),
    "operators.similarity.knn_cosine_bruteforce": ALL,
}
EXTRA_LAYER = {
    "session.get_session.s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "trace.overhead_rows_per_s": "1/s",
    "trace.span_coverage": "frac",
}
MEASURE_UNITS = {
    "build_s": "s", "exec_s": "s", "build_jobs": "count",
    "shuffle_write_mb": "MB", "core_util": "frac", "yield": "frac",
}
END_TO_END = {
    "setup_s": "s",
    "rows_per_cpu_s": "1/s",
    "batch_cpu_s": "s",
    "planted_dup_recall": "frac",
    "recall_at_10": "frac",
    "ops_ok_frac": "frac",
}
# Printed as text lines, not in the JSON: ops_failed_frac can read 0,
# which a reported metric may not, and the wall-clock figures moved by
# more than the largest bound a metric may have (see README, "Measured
# noise").
TEXT_ONLY = {"rows_per_s": "1/s", "batch_land_s": "s", "ops_failed_frac": "frac"}
GEN_REPEATS = 3


def per_layer_units() -> dict:
    out = {
        f"{op}.{m}": MEASURE_UNITS[m] for op, ms in LAYER_MEASURES.items() for m in ms
    }
    out.update(EXTRA_LAYER)
    return out


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _start_session(work: str, trace: bool, jvm_opts: str):
    """The engine's session factory on local[nproc], with every path
    Spark writes to kept inside ``work``."""
    from reddit_hn_etl_spark.session import get_session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no /tmp/hsperfdata_*; JVM warnings to stderr, not stdout
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Xlog:disable -Xlog:all=warning:stderr -Djava.io.tmpdir={tmp} {jvm_opts}"
        ),
    }
    if trace:
        logdir = os.path.join(work, "eventlog")
        os.makedirs(logdir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + logdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_session(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return 0.0
    with open(f"/proc/{proc.pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _stop_session(spark) -> int | None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit;
    returns the JVM's exit code."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return None
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return None
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        return proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
        return None


def _class_archive(workload: str, work: str) -> tuple[str, str | None]:
    """JVM options that share the workload's loaded classes between runs.

    The first run in a checkout records the classes its JVM loads into
    ``<work>/classes.jsa`` at exit (returned as the second value, to be
    kept once the JVM exits cleanly); later runs map that archive
    instead of loading and verifying those classes from the jars, which
    takes several seconds off the session start. The archive only
    speeds up class loading: a missing or unusable one is skipped."""
    archive = os.path.join(CACHE, f"{workload}.jsa")
    if os.path.exists(archive):
        return f"-XX:SharedArchiveFile={archive}", None
    dump = os.path.join(work, "classes.jsa")
    return f"-XX:ArchiveClassesAtExit={dump}", dump


def _run_passes(wl, meter, work: str, seconds: float, trace: bool) -> list:
    """Closed loop of whole passes until ``seconds`` have elapsed.
    Traced runs alternate untraced and traced passes. Returns one
    (traced, pass_s, pass_cpu_s, [(batch_s, batch_cpu_s), ...]) per
    pass."""
    passes = []
    start = time.perf_counter()
    i = 0
    while (
        time.perf_counter() - start < seconds
        or not passes
        or (trace and len({p[0] for p in passes}) < 2)
    ):
        i += 1
        traced = trace and i % 2 == 0
        pdir = os.path.join(work, f"run{i}")
        meter.begin_pass(i, traced)
        batches = wl.run_pass(meter, pdir)
        meter.end_pass()
        passes.append((traced, meter.op_s, meter.cpu_s, batches))
        shutil.rmtree(pdir, ignore_errors=True)
        if meter.failures:
            break
    return passes


def run(args) -> tuple[dict, dict]:
    """Set up, warm up, measure; returns (result, details)."""
    wl = WORKLOADS[args.workload]()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(os.path.join(CACHE, "conf"), exist_ok=True)
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)  # engine default
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(_cpus()),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": os.path.join(work, "tmp"),
        # the JVM spark-submit starts first, to build the driver's command
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        # class-data sharing refuses a non-empty directory on the class
        # path, and Spark puts its conf directory there
        "SPARK_CONF_DIR": os.path.join(CACHE, "conf"),
        # Python workers import the engine (and its kernels) by module path
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
    })
    try:
        return _measure(args, wl, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run uses it


def _warm_up(spark, wl, pdir: str) -> list:
    """The untimed warm-up pass. A workload whose pass splits into
    independent parts runs them on up to nproc driver threads, so the
    first-use cost (class loading, code generation, JIT, Python worker
    start) is paid in less wall time. Returns the failed checks and
    each part's seconds."""
    parts = wl.parts(pdir)
    meters = [Meter(spark, wl.name, None) for _ in parts]
    with concurrent.futures.ThreadPoolExecutor(min(len(parts), _cpus())) as pool:
        list(pool.map(lambda part, m: part(m), parts, meters))
    return [f for m in meters for f in m.failures], [m.op_s for m in meters]


def _measure(args, wl, work: str) -> tuple[dict, dict]:
    trace = bool(args.trace)
    details: dict = {}
    spark = None
    jvm_opts, dump = _class_archive(wl.name, work)
    try:
        t0 = time.perf_counter()
        spark = _start_session(work, trace, jvm_opts)
        session_s = time.perf_counter() - t0
        gen_times = []
        for _ in range(GEN_REPEATS):
            t = time.perf_counter()
            wl.generate(os.path.join(work, "inputs"), args.seed)
            gen_times.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.load(spark)
        load_s = time.perf_counter() - t
        t = time.perf_counter()
        warm_failures, part_s = _warm_up(spark, wl, os.path.join(work, "run0"))
        warm_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(gen_times) + load_s + warm_s
        details.update(session_s=session_s, gen_s=gen_times, load_s=load_s, warmup_s=warm_s,
                       warmup_parts_s=part_s)
        log = SpanLog() if trace else None
        meter = Meter(spark, wl.name, log)
        meter.failures.extend(warm_failures)
        passes = [] if meter.failures else _run_passes(wl, meter, work, args.seconds, trace)
        rss = _jvm_peak_rss_mb()
    finally:
        if spark is not None and _stop_session(spark) == 0 and dump and os.path.exists(dump):
            os.replace(dump, os.path.join(CACHE, f"{wl.name}.jsa"))

    attempted, failed = meter.attempted, len(meter.failed)
    correct = not meter.failures
    details.update(passes=passes, failures=meter.failures[:20])
    failed_frac = failed / attempted if attempted else 1.0

    def rate(sel, col=1):
        xs = [wl.rows / p[col] for p in passes if sel(p)]
        return statistics.median(xs) if xs else 0.0

    def per_batch(col):
        xs = [b[col] for p in passes for b in p[3]]
        return statistics.median(xs) if xs else 0.0

    if trace:
        with open(glob.glob(os.path.join(work, "eventlog", "*"))[0], encoding="utf-8") as f:
            events = parse_event_log(f)
        metrics = layer_metrics(log, events, _cpus(), LAYER_MEASURES)
        metrics.update({
            "session.get_session.s": session_s,
            "session.jvm_peak_rss_mb": rss,
            "trace.overhead_rows_per_s": rate(lambda p: not p[0]) - rate(lambda p: p[0]),
            "trace.span_coverage": coverage(log),
        })
        units = per_layer_units()
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        log.dump(os.path.join(out_dir, f"spans_{wl.name}_seed{args.seed}.json"))
    else:
        quality = wl.quality() if passes else {}
        metrics = {
            "setup_s": setup_s,
            "rows_per_cpu_s": rate(lambda p: True, col=2),
            "batch_cpu_s": per_batch(1),
            "planted_dup_recall": quality.get("planted_dup_recall", 0.0),
            "recall_at_10": quality.get("recall_at_10", 0.0),
            "ops_ok_frac": 1.0 - failed_frac,
        }
        units = END_TO_END
    result = {
        "correct": correct,
        "attempted": max(attempted, 1),
        "failed": failed if correct else max(failed, 1),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    details["text_only"] = {
        "rows_per_s": rate(lambda p: True),
        "batch_land_s": per_batch(0),
        "ops_failed_frac": failed_frac,
    }
    return result, details


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=list(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import reddit_hn_etl_spark.session  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    result, details = run(args)
    for name, m in result["metrics"].items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    for name, value in details["text_only"].items():
        print(f"{args.workload} {name} = {value:.6g} {TEXT_ONLY[name]}")
    print(json.dumps({"details": details}), file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
