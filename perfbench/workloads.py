"""The benchmark's workloads: what one run does after set-up.

Load comes from one driver thread in a closed loop: each operation starts
when the previous one returns. A run does one cold iteration (the first
in a fresh session), then a fixed number of warm iterations: ``seconds``
divided by the workload's nominal iteration time on a 4-core machine, so
every run of a given ``seconds`` does the same work and the iterations
sit at the same point of the JVM's warm-up. Correctness gates run after
the loop, outside every timed region.
"""

from __future__ import annotations

import contextlib
import dataclasses
import gc
import json
import os
import random
import sys
import time
import traceback
from dataclasses import dataclass, field

import bronze_gen
import gates
import tables_gen
from fetch_log import LoggingFetcher, requested

# The relational headline queries of bench.py: Catalyst scans, joins,
# aggregates and windows with no Python workers.
CATALOG_SQL = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "q18_large_volume_customer", "j1_anti_join",
    "j3_multiway_join", "a6_mode_per_group", "a8_a9_conditional_agg",
    "w_rank_lag_running", "w2_trailing_window", "l_topk_per_group",
    "l_global_topk", "u1_union_all", "f1_duration_parse", "j4_explode_tokens",
    "domain_daily_insights", "sessionize", "dedup_exact", "text_stats",
]
# Arrow/pandas kernels and iterative job chains (operators.similarity,
# dedup, graph, intlinalg, multimodal). Too slow for the timed loop of
# every run; the traced catalog_sql run executes and gates each once.
CURATION = [
    "graph_pagerank", "dedup_minhash_lsh", "semdedup_keepers",
    "graph_kcore_mutual_knn", "sim_ivfadc_residual_topk",
    "embedding_gram_matrix", "multimodal_image_features", "ewma_user_value",
]
# the scale the repository's correctness sweep compares every oracle at
CATALOG_SF = 0.01
ORACLE_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

DAILY_SHAPE = bronze_gen.Shape(("QA", "US", "DE"), 20, days=7, channel_pool=40)
# seconds one warm iteration takes on a 4-core machine
NOMINAL_S = {"daily_week": 3.6, "catalog_sql": 9.5}

# iteration tag of work done once after the timed loop
AFTER_LOOP = 10_000


@dataclass
class Run:
    """State one workload run shares with the harness."""

    spark: object
    work: str  # scratch directory of this run
    cache: str  # per-seed input cache
    seed: int
    seconds: float
    tracer: object | None = None
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    wrong: int = 0
    cold_s: float = 0.0
    warm: list[float] = field(default_factory=list)
    layer_counts: dict[str, float] = field(default_factory=dict)
    phases: dict[str, float] = field(default_factory=dict)  # untimed work, seconds
    memory_mb: dict[str, float] = field(default_factory=dict)

    def op(self, fn, *args, **kwargs):
        """One operation: counted, and a raise is recorded, not fatal."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception:  # noqa: BLE001 - a failed op is a measured outcome
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None

    def measured(self) -> None:
        """The measured work is done: record memory before the gates, which
        read outputs (and run DuckDB) in this process. The JVM's peak
        resident size follows its heap-sizing decisions more than the
        program, so its live heap and the non-heap memory in use are
        recorded beside it. Live heap is what full collections leave once
        the Python side has dropped its dead JVM references and the JVM has
        released what they held: collections repeat until one frees less
        than 1 MB more. One collection alone leaves a random 0-200 MB of
        such garbage behind."""
        jvm = self.spark.sparkContext._jvm
        peak = _vm_hwm_mb(jvm.java.lang.ProcessHandle.current().pid())
        mf = jvm.java.lang.management.ManagementFactory
        mx = mf.getMemoryMXBean()
        heap = jvm.java.lang.management.MemoryType.HEAP

        def settled_heap() -> float:
            # usage as the collection left it: what threads allocate
            # right after it is not live data
            gc.collect()
            mx.gc()
            return sum(
                p.getCollectionUsage().getUsed()
                for p in mf.getMemoryPoolMXBeans()
                if p.getType() == heap and p.getCollectionUsage() is not None
            ) / 2**20

        live = settled_heap()
        for _ in range(5):  # until a collection frees less than 1 MB more
            time.sleep(0.5)
            before, live = live, settled_heap()
            if live > before - 1:
                break
        self.memory_mb = {
            "python_peak_rss": _vm_hwm_mb(os.getpid()),
            "jvm_peak_rss": peak,
            "jvm_live_heap": live,
            "jvm_non_heap": mx.getNonHeapMemoryUsage().getUsed() / 2**20,
        }

    def footprint_mb(self) -> float:
        m = self.memory_mb
        return m["python_peak_rss"] + m["jvm_live_heap"] + m["jvm_non_heap"]

    def peak_rss_mb(self) -> float:
        return self.memory_mb["python_peak_rss"] + self.memory_mb["jvm_peak_rss"]

    def gate(self, problems: list[str]) -> None:
        """One checked output; any problem makes it a wrong result."""
        if problems:
            self.wrong += 1
            self.problems.extend(problems)

    def iteration(self, i: int):
        if self.tracer is None:
            return contextlib.nullcontext()
        self.tracer.iteration = i
        return self.tracer.span("perfbench.iteration")

    def warm_count(self, nominal_s: float) -> int:
        return max(1, round(self.seconds / nominal_s))

    def loop(self, body, nominal_s: float) -> None:
        """Cold iteration, then about ``seconds`` of warm ones."""
        t0 = time.perf_counter()
        with self.iteration(0):
            body(0)
        self.cold_s = time.perf_counter() - t0
        for i in range(1, 1 + self.warm_count(nominal_s)):
            t0 = time.perf_counter()
            with self.iteration(i):
                body(i)
            self.warm.append(time.perf_counter() - t0)


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _after_loop(run: Run):
    if run.tracer is None:
        return contextlib.nullcontext()
    run.tracer.iteration = AFTER_LOOP
    return run.tracer.span("perfbench.after_loop")


def _read_table(path: str):
    """A date-partitioned output table, read with pyarrow, not Spark."""
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").to_table()


def _gold_rows(path: str) -> list[dict]:
    rows = _read_table(path).to_pylist()
    for r in rows:
        r["date"] = str(r["date"])
    return rows


def daily_week(run: Run) -> None:
    """3 regions x 20 videos per day through the fetcher seam, one day per
    iteration: ingestion (with the channel anti-join and executor-side
    channel fetch), then aggregates. After the loop the weekly report runs
    with a FileReportSender. The traced run then also replays the bronze
    lake the days wrote through the single-job backfill, so that path has
    per-layer numbers too."""
    from youtube_trending_data_pipeline_spark import pipeline
    from youtube_trending_data_pipeline_spark.report.delivery import FileReportSender
    from youtube_trending_data_pipeline_spark.sources.fetchers import DayFileFetcher

    shape = dataclasses.replace(
        DAILY_SHAPE, days=1 + run.warm_count(NOMINAL_S["daily_week"])
    )
    t0 = time.perf_counter()
    src = bronze_gen.ensure_days(run.cache, run.seed, shape)
    run.phases["inputs_s"] = time.perf_counter() - t0
    dates = shape.dates()
    # the fetcher's landing files live outside cfg.bronze_dir: ingestion
    # rewrites {bronze_dir}/{date}.json as a Spark output directory
    cfg = pipeline.PipelineConfig(
        bronze_dir=f"{run.work}/bronze",
        videos_dir=f"{run.work}/silver/videos",
        channels_dir=f"{run.work}/silver/channels",
        insights_dir=f"{run.work}/gold/insights",
        regions=list(shape.regions),
    )

    # the traced run logs the channel ids each day's ingestion requests
    log_dir = f"{run.work}/fetch-log"
    os.makedirs(log_dir, exist_ok=True)

    def day(i: int) -> None:
        d = dates[i]
        day_file = f"{src}/days/{d.isoformat()}.json"
        if run.tracer is None:
            fetcher = DayFileFetcher(day_file)
        else:
            fetcher = LoggingFetcher(day_file, f"{log_dir}/{i}.txt")
        run.op(pipeline.run_daily_ingestion, run.spark, cfg, d, fetcher=fetcher)
        run.op(pipeline.run_daily_aggregates, run.spark, cfg, d)

    run.loop(day, NOMINAL_S["daily_week"])
    done = dates[: 1 + len(run.warm)]
    t0 = time.perf_counter()
    with _after_loop(run):
        out = run.op(
            pipeline.run_weekly_report, run.spark, cfg, done[-1],
            sender=FileReportSender(f"{run.work}/reports"),
        )
    run.phases["report_s"] = time.perf_counter() - t0
    run.measured()
    with open(f"{src}/expected.json") as fh:
        generated = json.load(fh)
    expected = {d.isoformat(): generated[d.isoformat()] for d in done}
    _gate_pipeline(run, cfg, expected, out)
    if run.tracer is not None:
        replay = pipeline.PipelineConfig(
            bronze_dir=cfg.bronze_dir,
            videos_dir=f"{run.work}/backfill/videos",
            channels_dir=f"{run.work}/backfill/channels",
            insights_dir=f"{run.work}/backfill/insights",
            regions=cfg.regions,
        )
        with _after_loop(run):
            run.op(pipeline.run_backfill_ingestion, run.spark, replay)
            run.op(pipeline.run_backfill_aggregates, run.spark, replay)
        run.gate(gates.check_gold(expected, _gold_rows(replay.insights_dir)))
        run.gate(gates.check_silver(expected, _read_table(replay.videos_dir).num_rows))
        run.layer_counts["sources.fetchers.channels_fetched"] = sum(
            len(requested(f"{log_dir}/{i}.txt")) for i in range(1, len(done))
        )


def _gate_pipeline(run: Run, cfg, expected: dict, report_out) -> None:
    t0 = time.perf_counter()
    run.gate(gates.check_gold(expected, _gold_rows(cfg.insights_dir)))
    run.gate(gates.check_silver(expected, _read_table(cfg.videos_dir).num_rows))
    ids = _read_table(cfg.channels_dir).column("id").to_pylist()
    run.gate(gates.check_channels(expected, ids))
    if report_out is None:
        run.gate(["weekly report produced no output"])
    else:
        run.gate(gates.check_html(report_out[1], list(cfg.regions)))
    run.phases["gates_s"] = time.perf_counter() - t0


def _query(run: Run, name: str, sf_dir: str):
    """Build then collect one catalog entry; traced as plan and exec."""
    from youtube_trending_data_pipeline_spark.catalog import QUERIES

    fn = QUERIES[name].fn
    if run.tracer is None:
        df = run.op(fn, run.spark, sf_dir)
        return None if df is None else run.op(df.toPandas)
    with run.tracer.span(f"catalog.{name}.plan"):
        df = run.op(fn, run.spark, sf_dir)
    if df is None:
        return None
    with run.tracer.span(f"catalog.{name}.exec"):
        return run.op(df.toPandas)


def catalog_sql(run: Run) -> None:
    """The 20 relational headline queries in a seed-set order, each built
    and collected to the driver; one pass per iteration. The traced run
    also executes and gates the CURATION entries once, after the loop."""
    from youtube_trending_data_pipeline_spark.catalog import _load_extensions

    _load_extensions()
    t0 = time.perf_counter()
    sf_dir = tables_gen.ensure_tables(run.cache, run.seed, CATALOG_SF)
    run.phases["inputs_s"] = time.perf_counter() - t0
    order = list(CATALOG_SQL)
    random.Random(run.seed).shuffle(order)
    results = {}

    def one_pass(i: int) -> None:
        for name in order:
            results[name] = _query(run, name, sf_dir)

    run.loop(one_pass, NOMINAL_S["catalog_sql"])
    if run.tracer is not None:
        extra = list(CURATION)
        random.Random(run.seed).shuffle(extra)
        with _after_loop(run):
            for name in extra:
                results[name] = _query(run, name, sf_dir)
    run.measured()
    _gate_catalog(run, sf_dir, results)


def _gate_catalog(run: Run, sf_dir: str, results: dict) -> None:
    """Each collected result against its DuckDB oracle on the same tables.
    At this scale even the entries ``sweep.ORACLE_HEAVY`` spares at large
    scale factors are compared."""
    import duckdb

    from youtube_trending_data_pipeline_spark.catalog import QUERIES

    t0 = time.perf_counter()
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
    con = duckdb.connect()
    try:
        for tb in ORACLE_TABLES:
            con.sql(f"create view {tb} as select * from '{sf_dir}/{tb}.parquet'")
        for name, pdf in results.items():
            oracle = QUERIES[name].oracle
            if pdf is None:
                run.gate([f"{name}: no result"])
            elif oracle is not None:
                sql = oracle() if callable(oracle) else oracle
                run.gate(gates.check_query(name, pdf, con.execute(sql).df()))
    finally:
        con.close()
    run.phases["gates_s"] = time.perf_counter() - t0


WORKLOADS = {
    "daily_week": daily_week,
    "catalog_sql": catalog_sql,
}
