"""The benchmark of record for the ingest engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One process generates the workload's
inputs from the seed, sets the engine up several times (session start
plus warm-up, each timed), drives the workload's unit operation in a
closed loop for ``--seconds``, checks every output and prints a report
followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics (see README.md for both lists and what each should
move). All files go to a fresh directory under ``.perfbench/`` in the
checkout, deleted at exit; results and span dumps stay in
``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

# The engine must be importable from the checkout; without it the
# benchmark fails here, before it writes or prints anything.
import data_ingestion_tool_spark  # noqa: E402,F401

from measure import await_exit, descendants, median, peak_rss_mb, reset_peak_rss  # noqa: E402
from tracing import Tracer  # noqa: E402

SETUPS = 3  # set-ups per run; setup_s is their median

END_TO_END = {  # name -> unit; the same two on every workload
    "setup_s": "s",
    "items_per_s": "1/s",
}

API_CALLS = ("import_flatfile", "export_flatfile", "get_columns", "connect", "health")
SOURCES_STAGES = ("read_csv_compat", "read_csv_inferred", "ingest_append", "write_csv")
OPERATOR_STAGES = (
    "text.quality_filter", "dedup.exact_dedup_by_content", "dedup.minhash_near_dup_pairs",
    "graph.dedup_clusters", "similarity.ivf_centroids", "similarity.ivf_topk",
)
PER_LAYER = {  # name -> unit; every workload reports all, 0 where a layer is unused
    **{f"api.{c}.p50_ms": "ms" for c in API_CALLS},
    "api.models.build_export_dataframe.ms": "ms",
    "sources.csv_io.export_csv_rows.ms": "ms",
    "session.jobs_per_op": "count",
    "session.tasks_per_op": "count",
    "session.failed_tasks": "count",
    **{f"sources.{s}.s": "s" for s in SOURCES_STAGES},
    "sources.files_out": "count",
    "sources.bytes_out_per_byte_in": "ratio",
    "sources.tasks_per_write": "count",
    "streaming.micro_batches": "count",
    "streaming.rows_per_batch": "count",
    "txnlog.commit.p50_ms": "ms",
    "txnlog.has_meta.p50_ms": "ms",
    "txnlog.log_entries_read": "count",
    "txnlog.has_meta.last_over_first": "ratio",
    **{f"operators.{s}.s": "s" for s in OPERATOR_STAGES},
    "operators.dedup.pairs_emitted": "count",
    "operators.dedup.pair_precision": "ratio",
}


def workload_class(name: str):
    if name == "api_requests":
        from api_requests import ApiRequests
        return ApiRequests
    if name == "bulk_ingest":
        from bulk_ingest import BulkIngest
        return BulkIngest
    if name == "stream_ingest":
        from stream_ingest import StreamIngest
        return StreamIngest
    if name == "curation":
        from curation import Curation
        return Curation
    if name == "data_pipeline":
        from pipeline import DataPipeline
        return DataPipeline
    raise SystemExit(f"unknown workload {name!r}")


def isolate(run_dir: str) -> dict[str, str]:
    """Point every directory the engine, Spark, the JVM and Python's
    ``tempfile`` write to at ``run_dir``."""
    dirs = {k: os.path.join(run_dir, k) for k in ("warehouse", "scratch", "local", "tmp")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ.update(
        SPARK_GRAFT_WAREHOUSE=dirs["warehouse"],
        SPARK_GRAFT_SCRATCH_DIR=dirs["scratch"],
        SPARK_GRAFT_LOCAL_DIR=dirs["local"],
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        TMPDIR=dirs["tmp"],
        # the short-lived JVM spark-submit uses to build its command line
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}",
    )
    tempfile.tempdir = dirs["tmp"]
    return dirs


def start_session(dirs: dict[str, str]):
    from data_ingestion_tool_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            # keep every job of a run in the status store for job-group counts
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait for every process this
    one started (the JVM and its Python workers) to end."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    await_exit(kids, 15)


def layer_metrics(tracer: Tracer, wl) -> dict[str, float]:
    def p50(name: str, scale: float) -> float:
        return median(tracer.durations(name)) * scale

    ops = max(1, wl.attempted)
    vals: dict[str, float] = {k: 0.0 for k in PER_LAYER}
    vals.update({f"api.{c}.p50_ms": p50(f"api.{c}", 1000) for c in API_CALLS})
    vals["api.models.build_export_dataframe.ms"] = p50("api.models.build_export_dataframe", 1000)
    vals["sources.csv_io.export_csv_rows.ms"] = p50("sources.csv_io.export_csv_rows", 1000)
    vals["session.jobs_per_op"] = sum(o.get("jobs", 0) for o in tracer.ops) / ops
    vals["session.tasks_per_op"] = sum(o.get("tasks", 0) for o in tracer.ops) / ops
    vals["session.failed_tasks"] = sum(o.get("failed_tasks", 0) for o in tracer.ops)
    vals.update({f"sources.{s}.s": p50(f"sources.{s}", 1) for s in SOURCES_STAGES})
    vals["txnlog.commit.p50_ms"] = p50("txnlog.commit", 1000)
    vals["txnlog.has_meta.p50_ms"] = p50("txnlog.has_meta", 1000)
    vals.update({f"operators.{s}.s": p50(f"operators.{s}", 1) for s in OPERATOR_STAGES})
    vals.update(wl.layer_values())
    assert vals.keys() == PER_LAYER.keys(), set(vals) ^ set(PER_LAYER)
    return vals


def run(args, run_dir: str, results_dir: str) -> dict:
    dirs = isolate(run_dir)
    tracer = Tracer(enabled=bool(args.trace))
    wl = workload_class(args.workload)(run_dir, args.seed, tracer)
    t0 = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t0
    reset_peak_rss()  # input generation is not the engine's memory
    wl.install()

    spark = None
    setups: list[float] = []
    try:
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            shutil.rmtree(dirs["warehouse"])
            os.makedirs(dirs["warehouse"])
            wl.reset_outputs()
            t0 = time.perf_counter()
            spark = start_session(dirs)
            tracer.bind(spark.sparkContext)
            wl.warm_up(spark)
            setups.append(time.perf_counter() - t0)

        t0 = time.perf_counter()
        deadline = t0 + args.seconds
        while time.perf_counter() < deadline:
            wl.step(spark)
        measured_s = time.perf_counter() - t0
        tracer.count_jobs()
        from pyspark import SparkContext

        rss = peak_rss_mb(SparkContext._gateway.proc.pid)
    finally:
        shutdown(spark)

    e2e = {"setup_s": median(setups), "items_per_s": median(wl.unit_rates)}
    counts = {"setup_s": len(setups), "items_per_s": len(wl.unit_rates)}
    print(f"perfbench {wl.name} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print(f"  inputs generated in {gen_s:.2f} s; loop ran {measured_s:.2f} s")
    print(f"  set-up samples (s): {', '.join(f'{s:.3f}' for s in setups)}")
    notes = {"items_per_s": f"{wl.item}s per second of a unit: {wl.op}"}
    for k, v in e2e.items():
        print(f"  {k:<34} {v:>12.4f} {END_TO_END[k]:<6} n={counts[k]:<6} {notes.get(k, '')}")
    print(f"  {'unit_p50_ms':<34} {median(wl.latencies_ms):>12.4f} {'ms':<6} n={len(wl.latencies_ms)}")
    # not in the JSON: the JVM's heap grows with GC timing, see README.md
    print(f"  {'peak_rss_mb':<34} {rss:>12.4f} {'MB':<6} n=1")
    ratio = wl.failed / wl.attempted if wl.attempted else 1.0
    print(f"  {'ops_failed_ratio':<34} {ratio:>12.4f} {'ratio':<6} n={wl.attempted}")
    for name, value, unit, n in wl.report():
        print(f"  {name:<34} {value:>12.4f} {unit:<6} n={n}")
    for p in wl.problems[:20]:
        print(f"  CHECK FAILED: {p}")

    os.makedirs(results_dir, exist_ok=True)
    stem = os.path.join(results_dir, f"{wl.name}-seed{args.seed}")
    with open(f"{stem}-trace{args.trace}.json", "w") as fh:
        json.dump(e2e, fh)
    if args.trace:
        tracer.dump(f"{stem}-spans.json")
        metrics = layer_metrics(tracer, wl)
        units = PER_LAYER
        print("  per-layer:")
        for k, v in metrics.items():
            print(f"    {k:<44} {v:>12.4f} {units[k]}")
        untraced = f"{stem}-trace0.json"
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)
            print("  tracing overhead (traced vs untraced run, same seed):")
            k = "items_per_s"
            print(f"    {k:<20} {e2e[k]:.4f} vs {base[k]:.4f} ({(e2e[k] / base[k] - 1) * 100:+.1f}%)")
    else:
        metrics, units = e2e, END_TO_END
    return {
        "correct": wl.failed == 0 and wl.attempted > 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    workload_class(args.workload)  # reject an unknown name before any work
    # Spark's Python workers start in the JVM's working directory and
    # import the engine from there.
    os.chdir(ROOT)

    base = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(base, f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(run_dir)
    try:
        result = run(args, run_dir, os.path.join(base, "results"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
