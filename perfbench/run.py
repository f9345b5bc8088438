"""Benchmark command: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload daily_week --seed 1 --seconds 22 --trace 0

Run from the repository root. It makes the workload's inputs from the
seed (cached per seed under ``perfbench/_work/cache``), starts the
program's SparkSession on ``local[<cpus>]``, runs the workload's closed
loop (``workloads.py``), checks the outputs, and prints as its last
stdout line ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones, both as listed in ``BENCHMARK.json``. Everything it
writes stays under ``perfbench/_work``. See ``perfbench/NOTES.md``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
PACKAGE = "youtube_trending_data_pipeline_spark"
KEEP_CACHED_SEEDS = 4

END_TO_END = ["setup_s", "cold_s", "wall_s", "footprint_mb"]
END_TO_END_UNITS = {"setup_s": "s", "cold_s": "s", "wall_s": "s", "footprint_mb": "MB"}


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order."""
    from workloads import CATALOG_SQL, CURATION

    names = {"session.get_spark_s": "s", "memory.peak_rss_mb": "MB"}
    for job in (
        "run_daily_ingestion", "run_daily_aggregates", "run_weekly_report",
        "run_backfill_ingestion", "run_backfill_aggregates",
    ):
        names[f"pipeline.{job}_s"] = "s"
    for layer in ("operators.flatten", "operators.channels", "operators.insights",
                  "operators.weekly", "sources.bronze"):
        names[f"{layer}.plan_s"] = "s"
    names.update({
        "sources.bronze.write_s": "s",
        "sources.bronze.input_bytes": "bytes",
        "sources.fetchers.bronze_from_fetcher_s": "s",
        "sources.fetchers.channels_s": "s",
        "sources.fetchers.channels_fetched": "count",
        "sources.tables.write_s": "s",
        "sources.tables.read_s": "s",
        "sources.tables.files_written": "count",
        "sources.tables.output_bytes": "bytes",
        "report.html.render_s": "s",
        "report.delivery.send_s": "s",
        "spark.jobs": "count",
        "spark.stages": "count",
        "spark.tasks": "count",
        "spark.failed_tasks": "count",
        "spark.executor_run_s": "s",
        "spark.executor_cpu_s": "s",
        "spark.core_util": "ratio",
        "spark.gc_s": "s",
        "spark.input_bytes": "bytes",
        "spark.output_bytes": "bytes",
        "spark.shuffle_read_bytes": "bytes",
        "spark.shuffle_write_bytes": "bytes",
        "spark.spill_bytes": "bytes",
        "trace.wall_s": "s",
        "after_loop.wall_s": "s",
    })
    for k, unit in AFTER_LOOP_SPARK.items():
        names[f"after_loop.{k}"] = unit
    for q in CATALOG_SQL + CURATION:
        names[f"catalog.{q}.plan_s"] = "s"
        names[f"catalog.{q}.exec_s"] = "s"
    return names


# Spark totals also reported for the work done once after the loop
AFTER_LOOP_SPARK = {
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
}
# per-layer metrics of calls made only after the loop: the total of that
# one call, not a share per warm iteration
ONCE = {
    "pipeline.run_weekly_report_s", "pipeline.run_backfill_ingestion_s",
    "pipeline.run_backfill_aggregates_s", "operators.weekly.plan_s",
    "report.html.render_s", "report.delivery.send_s",
}

# span name -> per-layer metric it feeds (self time)
SPAN_METRIC = {
    "session.get_spark": "session.get_spark_s",
    "pipeline.run_daily_ingestion": "pipeline.run_daily_ingestion_s",
    "pipeline.run_daily_aggregates": "pipeline.run_daily_aggregates_s",
    "pipeline.run_weekly_report": "pipeline.run_weekly_report_s",
    "pipeline.run_backfill_ingestion": "pipeline.run_backfill_ingestion_s",
    "pipeline.run_backfill_aggregates": "pipeline.run_backfill_aggregates_s",
    "operators.flatten": "operators.flatten.plan_s",
    "operators.channels": "operators.channels.plan_s",
    "operators.insights": "operators.insights.plan_s",
    "operators.weekly": "operators.weekly.plan_s",
    "sources.bronze.plan": "sources.bronze.plan_s",
    "sources.bronze.write": "sources.bronze.write_s",
    "sources.fetchers.bronze_from_fetcher": "sources.fetchers.bronze_from_fetcher_s",
    "sources.fetchers.channels": "sources.fetchers.channels_s",
    "sources.tables.write": "sources.tables.write_s",
    "sources.tables.read": "sources.tables.read_s",
    "report.html.render": "report.html.render_s",
    "report.delivery.send": "report.delivery.send_s",
}


def install_spans(tracer) -> None:
    """Wrap the names pipeline.py calls (and the ones it imports lazily)."""
    from youtube_trending_data_pipeline_spark import pipeline, session
    from youtube_trending_data_pipeline_spark.report import delivery
    from youtube_trending_data_pipeline_spark.sources import bronze, fetchers

    def files_written(rec, args, kwargs, result):
        path = args[1] if len(args) > 1 else kwargs["path"]
        rec["files_written"] = rec["output_bytes"] = 0
        for d, _, files in os.walk(path):
            for f in files:
                p = os.path.join(d, f)
                if f.endswith(".parquet") and os.path.getmtime(p) >= rec["wall_start"]:
                    rec["files_written"] += 1
                    rec["output_bytes"] += os.path.getsize(p)

    tracer.patch(session, "get_spark", "session.get_spark")
    for job in ("run_daily_ingestion", "run_daily_aggregates", "run_weekly_report",
                "run_backfill_ingestion", "run_backfill_aggregates"):
        tracer.patch(pipeline, job, f"pipeline.{job}")
    for attr, name in (
        ("flatten_videos", "operators.flatten"),
        ("new_channels", "operators.channels"),
        ("new_channel_ids", "operators.channels"),
        ("daily_insights", "operators.insights"),
        ("weekly_insights", "operators.weekly"),
        ("render_weekly_html", "report.html.render"),
        ("read_bronze_day", "sources.bronze.plan"),
        ("region_items", "sources.bronze.plan"),
        ("read_table", "sources.tables.read"),
    ):
        tracer.patch(pipeline, attr, name)
    tracer.patch(pipeline, "overwrite_date_partition", "sources.tables.write",
                 after=files_written)
    tracer.patch(bronze, "read_bronze_days", "sources.bronze.plan")
    tracer.patch(bronze, "write_bronze_day", "sources.bronze.write")
    tracer.patch(fetchers, "bronze_from_fetcher", "sources.fetchers.bronze_from_fetcher")
    tracer.patch(fetchers, "channels_from_fetcher", "sources.fetchers.channels")
    tracer.patch(delivery.FileReportSender, "send", "report.delivery.send")


def _prune_cache(cache: str) -> None:
    """Keep the inputs of the few most recently used seeds per shape."""
    groups: dict[str, list[str]] = {}
    for name in os.listdir(cache):
        if name.endswith(".tmp"):
            continue
        groups.setdefault(name.rsplit("-s", 1)[0], []).append(os.path.join(cache, name))
    for paths in groups.values():
        paths.sort(key=os.path.getmtime, reverse=True)
        for p in paths[KEEP_CACHED_SEEDS:]:
            shutil.rmtree(p, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    if importlib.util.find_spec(PACKAGE) is None:
        print(f"perfbench: the program ({PACKAGE}) is not in {ROOT}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    cache = os.path.join(WORK, "cache")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(cache, exist_ok=True)
    # Python workers import the program, and the traced run's fetcher
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p] + [HERE]
    )
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # spark-submit's launcher JVM reads this, not the driver's options
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_UI"] = "true" if args.trace else "false"
    extra_conf = {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                         f"-Dderby.system.home={run_dir}",
        "spark.ui.showConsoleProgress": "false",
    }

    tracer = None
    if args.trace:
        from tracer import Tracer

        # keep every job and stage of the run for the REST API to report
        extra_conf["spark.ui.retainedJobs"] = "100000"
        extra_conf["spark.ui.retainedStages"] = "100000"
        tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
        install_spans(tracer)

    spark = None
    started = time.perf_counter()
    try:
        # set-up: program import, session, one trivial job
        t0 = time.perf_counter()
        from youtube_trending_data_pipeline_spark import session

        if tracer is not None:
            tracer.iteration = -1
        spark = session.get_spark(
            app_name=f"perfbench-{args.workload}", master=f"local[{cpus}]",
            extra_conf=extra_conf,
        )
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()
        setup_s = time.perf_counter() - t0
        if tracer is not None:
            tracer.bind(spark.sparkContext)

        run = workloads.Run(
            spark=spark, work=os.path.join(run_dir, "data"), cache=cache,
            seed=args.seed, seconds=args.seconds, tracer=tracer,
        )
        workloads.WORKLOADS[args.workload](run)

        if tracer is None:
            metrics = {
                "setup_s": setup_s,
                "cold_s": run.cold_s,
                "wall_s": statistics.median(run.warm),
                "footprint_mb": run.footprint_mb(),
            }
            units = END_TO_END_UNITS
        else:
            metrics, units = layer_metrics(spark, tracer, run)
            tracer.dump(os.path.join(WORK, f"trace-{args.workload}-s{args.seed}.json"))
    finally:
        t0 = time.perf_counter()
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        _prune_cache(cache)
        stop_s = time.perf_counter() - t0

    print(json.dumps({
        "workload": args.workload, "seed": args.seed,
        "warm_s": run.warm,
        **run.phases,
        "memory_mb": run.memory_mb,
        "stop_s": stop_s,
        "total_s": time.perf_counter() - started,
        "wrong_results": run.wrong,
        "failed_frac": run.failed / max(run.attempted, 1),
        "problems": run.problems[:20],
    }))
    print(json.dumps({
        "correct": run.wrong == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def layer_metrics(spark, tracer, run):
    """Per-layer numbers of a traced run.

    Times are self times. Pipeline, source, operator and ``spark.*``
    numbers are totals over the warm iterations divided by their count,
    so they belong to ``wall_s``. Work a workload does once after its loop
    (the weekly report and backfill replay of ``daily_week``, the
    curation entries of ``catalog_sql``) is kept out of them: the calls
    made only there (``ONCE``) report the total of that one call, and
    ``after_loop.*`` its wall time and Spark totals. ``catalog.*`` are per
    execution; ``session.get_spark_s`` is the one set-up call.
    """
    import workloads
    from tracer import spark_status, stage_metrics

    units = per_layer_names()
    n = len(run.warm)
    warm = set(range(1, 1 + n))
    after = {workloads.AFTER_LOOP}
    metrics = dict.fromkeys(units, 0.0)

    own_warm, own_after = tracer.self_times(warm), tracer.self_times(after)
    for span_name, metric in SPAN_METRIC.items():
        if metric in ONCE:
            metrics[metric] = own_after.get(span_name, 0.0)
        else:
            metrics[metric] = own_warm.get(span_name, 0.0) / n
    metrics["session.get_spark_s"] = tracer.self_times({-1}).get("session.get_spark", 0.0)
    per_exec: dict[str, list[float]] = {}
    for s in tracer.spans:
        if s["name"].startswith("catalog.") and s["iteration"] in warm | after:
            per_exec.setdefault(s["name"], []).append(s["end"] - s["start"])
    for name, xs in per_exec.items():
        metrics[f"{name}_s"] = statistics.mean(xs)
    for s in tracer.spans:
        if s["iteration"] in warm:
            metrics["sources.tables.files_written"] += s.get("files_written", 0) / n
            metrics["sources.tables.output_bytes"] += s.get("output_bytes", 0) / n
    for k, v in run.layer_counts.items():
        metrics[k] = v / n

    status = spark_status(spark.sparkContext)
    for k, v in stage_metrics(tracer, status, tracer.ids(warm)).items():
        metrics[k] = v / n
    once = stage_metrics(tracer, status, tracer.ids(after))
    for k in AFTER_LOOP_SPARK:
        metrics[f"after_loop.{k}"] = once.get(k, 0.0)
    # the bronze day-files the backfill replay scans
    backfill = tracer.subtree("pipeline.run_backfill_ingestion", after)
    metrics["sources.bronze.input_bytes"] = stage_metrics(
        tracer, status, backfill
    ).get("spark.input_bytes", 0.0)

    def top_level(iterations):
        return sum(
            s["end"] - s["start"]
            for s in tracer.spans
            if s["parent"] is None and s["iteration"] in iterations
        )

    cores = spark.sparkContext.defaultParallelism
    metrics["spark.core_util"] = metrics["spark.executor_run_s"] * n / (top_level(warm) * cores)
    metrics["after_loop.wall_s"] = top_level(after)
    metrics["trace.wall_s"] = statistics.median(run.warm)
    metrics["memory.peak_rss_mb"] = run.peak_rss_mb()
    return metrics, units


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - still running: force it down
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
