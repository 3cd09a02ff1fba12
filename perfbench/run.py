#!/usr/bin/env python3
"""CDC ingest benchmark for hemera_indexer_spark.

Usage, from the repository root:

    python3 perfbench/run.py --workload {catchup,tail} --seed N \\
        --seconds S --trace {0,1}

Runs one workload on a ``local[4]`` SparkSession in this process and prints
each metric as ``<workload>_<metric> <value> <unit>``, then, as the last
line, one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end ones (tracing off); with
``--trace 1`` they are the per-layer ones, and the span dump is written to
``.bench_work/spans-<workload>-<seed>.json``.

Everything the run writes stays under ``.bench_work/`` in the repository
root: generated logs (cached per workload and seed), lake tables, Spark's
scratch space and temporary files. See ``perfbench/README.md`` for the
workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")

# the end-to-end metrics reported in the JSON result (tracing off)
END_TO_END = {
    "setup_s": "s",
    "events_per_s": "1/s",
    "freshness_s_p50": "s",
    "lookup_s_p50": "s",
    "scan_rows_per_s": "1/s",
    "bytes_per_live_row": "B",
}
# printed with the others, but too few samples per run to bound
UNBOUNDED = {"freshness_s_p90": "s", "lookup_s_p90": "s"}


# the per-layer metrics reported in the JSON result of a traced run
PER_LAYER = {
    "controller.self_s": "s",
    "controller.groups_committed": "count",
    "controller.epochs_per_group": "ratio",
    "controller.retries": "count",
    "controller.strategy_sql_share": "ratio",
    "controller.rollback_epochs": "count",
    "table.merge_upsert.calls": "count",
    "table.merge_upsert.busy_s": "s",
    "table.commits": "count",
    "table.files_written": "count",
    "table.bytes_written_per_event": "B/event",
    "table.maybe_compact.calls": "count",
    "table.maybe_compact.compactions": "count",
    "table.maybe_compact.busy_s": "s",
    "table.lookup_many.calls": "count",
    "table.lookup_many.busy_s": "s",
    "table.delta_depth_at_lookup": "count",
    "table.current_state_scan.busy_s": "s",
    "table.delete_keys_where.calls": "count",
    "table.delete_keys_where.busy_s": "s",
    "sinks.FactSink.apply.calls": "count",
    "sinks.FactSink.apply.busy_s": "s",
    "sinks.FactSink.rollback.busy_s": "s",
    "sinks.fact_rows_written": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "spark.executor_run_s": "s",
    "spark.core_utilisation": "ratio",
    "spark.input_bytes_per_event": "B/event",
    "spark.shuffle_write_bytes_per_event": "B/event",
    "spark.shuffle_read_bytes_per_event": "B/event",
    "spark.output_bytes_per_event": "B/event",
    "spark.spill_bytes": "B",
    "harness.arrival_lag_s_max": "s",
    "trace.overhead_ratio": "ratio",
}


def start_spark(work: str):
    from hemera_indexer_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_spark(
        "perfbench",
        cores=4,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # stage metrics for the whole run stay in the status store
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedJobs": "100000",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def stop_spark(spark) -> None:
    """Stop the SparkContext, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["catchup", "tail"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "hemera_indexer_spark", "__init__.py")):
        print(f"perfbench: no hemera_indexer_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    cache = os.path.join(WORK, "cache")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(cache, exist_ok=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # Spark shuffle/spill files, Python temp files and JVM temp files;
    # Spark's own SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIR"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["SPARK_LOCAL_DIR"]
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")

    import workloads
    from spans import Tracer

    t_spark = time.perf_counter()
    spark = start_spark(run_dir)
    spark_start_s = time.perf_counter() - t_spark
    try:
        tracer = Tracer() if args.trace else None
        ctx = workloads.Context(spark, run_dir, cache, args.seed, args.seconds, tracer)
        t_trace0 = time.perf_counter()
        res = workloads.WORKLOADS[args.workload](ctx)
        if tracer:
            dump = os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json")
            tracer.dump(dump, t_trace0)
    finally:
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    w = args.workload
    print(f"{w}_harness.spark_start_s {spark_start_s:.4f} s")
    for k, v in res.info.items():
        print(f"{w}_harness.{k} {v}")
    for k, n in res.samples.items():
        print(f"{w}_samples.{k} {n} count")
    units = {**END_TO_END, **UNBOUNDED}
    for k, v in res.metrics.items():
        print(f"{w}_{k} {v:.6g} {units[k]}")
    ratio = res.failed / res.attempted if res.attempted else 1.0
    print(f"{w}_ops_failed_ratio {ratio:.6g} ratio ({res.failed}/{res.attempted})")
    for p in res.problems:
        print(f"{w}_problem {p}")
    if tracer:
        for k, v in res.layers.items():
            print(f"{w}_{k} {v:.6g} {PER_LAYER[k]}")
        print(f"{w}_trace.span_dump {dump}")

    chosen, units = (res.layers, PER_LAYER) if tracer else (res.metrics, END_TO_END)
    metrics = {k: {"value": chosen[k], "unit": u} for k, u in units.items() if k in chosen}
    print(json.dumps({
        "correct": res.failed == 0 and bool(res.metrics),
        "attempted": max(res.attempted, 1),
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
