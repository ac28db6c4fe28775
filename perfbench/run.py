#!/usr/bin/env python3
"""The repo benchmark: one command, three seeded workloads.

    python3 perfbench/run.py --workload analyst_queries --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout. Inputs are generated from ``--seed`` into
``.perfbench/`` (cached per seed), the engine runs on
``local[<available cores>]``, every result is checked against the DuckDB
oracle outside the timed region, and the last line of standard output is
one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones of ``BENCHMARK.json``;
with ``--trace 1`` they are the per-layer ones, from a run that alternates
untraced and traced operations and also reports its own overhead. Lines
before the JSON print every metric by its workload-specific name with its
unit, and itemise every failure.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import re
import shutil
import signal
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import data  # noqa: E402
import workloads  # noqa: E402
from layers import RssSampler, SparkProbe, Tracer, descendants  # noqa: E402

PACKAGE = "crypto_data_ingestion_script_spark"
CACHE = os.path.join(ROOT, ".perfbench")
#: Seed directories kept in the input cache; older ones are removed.
KEEP_SEEDS = 6

#: End-to-end metric names per workload: the JSON key, and the name the
#: workload prints it under.
E2E_NAMES = {
    "analyst_queries": {"op_p50_s": "query_p50_s", "items_per_s": "queries_per_s"},
    "llm_dedup": {"op_p50_s": "pass_p50_s", "items_per_s": "docs_per_s"},
    "tick_ingest": {"op_p50_s": "batch_p50_s", "items_per_s": "ticks_per_s"},
}
E2E_UNITS = {"op_p50_s": "s", "items_per_s": "1/s", "setup_s": "s"}

_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def valid_metric_name(name: str) -> bool:
    """Metric names: a letter or digit, then letters, digits, ``_ . -``."""
    return bool(_NAME.match(name))


def tail_percentile(samples: list[float], min_beyond: int = 10):
    """Highest of p99/p95/p90/p75 with at least ``min_beyond`` samples
    above it, as ``(p, value, samples_beyond)``; ``None`` when even p75
    lacks them."""
    xs = sorted(samples)
    n = len(xs)
    for p in (99, 95, 90, 75):
        rank = -(-p * n // 100)  # nearest rank: ceil(p% of n)
        if n - rank >= min_beyond:
            return p, xs[rank - 1], n - rank
    return None


def _prune_seed_dirs(data_dir: str, keep: str) -> None:
    if not os.path.isdir(data_dir):
        return
    dirs = sorted(
        (os.path.join(data_dir, d) for d in os.listdir(data_dir) if d.startswith("sf")),
        key=os.path.getmtime,
        reverse=True,
    )
    for d in dirs[KEEP_SEEDS:]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)


def _engine_env(tmp: str, cores: int) -> None:
    """Process environment the engine starts under: all scratch inside the
    checkout, Python workers able to import the package."""
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    os.environ["TMPDIR"] = tmp
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = tmp


#: First-use costs paid in set-up, per workload: those of the engine parts
#: the workload uses (the registry sweep script warms the same parts, plus
#: some no workload here touches).
WARM_UPS = {
    "analyst_queries": ("jvm", "parquet", "python_workers"),
    "llm_dedup": ("jvm", "parquet", "python_workers"),
    "tick_ingest": ("jvm", "parquet", "streaming"),
}
#: Workloads that read the generated tables (and so load the catalog).
USES_TABLES = ("analyst_queries", "llm_dedup")


def warm_up(spark, parts: tuple[str, ...], tmp: str, cores: int) -> None:
    """Pay JVM/codegen, Python worker pool, parquet reader and writer, and
    streaming (state store, file sink) start-up costs before timing."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    warm = os.path.join(tmp, "warm")
    landing = os.path.join(warm, "landing")
    shutil.rmtree(warm, ignore_errors=True)
    os.makedirs(landing)
    ticks = pa.table(
        {
            "ts": pa.array([data.TICK_START] * 4, pa.timestamp("us")),
            "symbol": ["A", "B", "A", "B"],
            "price": [1.0, 2.0, 3.0, 4.0],
        }
    )
    pq.write_table(ticks, os.path.join(landing, "ticks.parquet"))
    if "jvm" in parts:
        spark.range(1_000_000).selectExpr("sum(id) AS s").collect()
    if "python_workers" in parts:
        spark.range(64).repartition(cores).mapInPandas(lambda it: it, schema="id long").collect()
    if "parquet" in parts:
        small = spark.read.parquet(landing)
        small.collect()
        small.write.mode("overwrite").partitionBy("symbol").parquet(os.path.join(warm, "table"))
    if "streaming" in parts:
        stream = spark.readStream.schema("ts timestamp_ntz, symbol string, price double").parquet(landing)
        query = (
            stream.withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "1 minute")
            .groupBy(F.window("ts", "1 hour"), "symbol")
            .agg(F.max("price"))
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", os.path.join(warm, "sink"))
            .option("checkpointLocation", os.path.join(warm, "checkpoint"))
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    shutil.rmtree(warm, ignore_errors=True)


def shutdown(spark) -> None:
    """Stop the session, end the Spark JVM and wait for every process it
    started (the Python worker daemon and its workers)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = descendants(proc.pid) if proc else []
    spark.stop()
    gateway.shutdown()
    if proc:
        proc.stdin.close()  # the gateway JVM exits on end of input
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 15
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


#: Per-layer metrics of a traced run, with units. Setup layers are
#: measured once per run; the rest are per timed operation (query, pass or
#: batch), averaged over the traced operations, unless named a ratio.
PER_LAYER = {
    "session.build_s": "s",
    "registry.load_all_s": "s",
    "catalog.load_s": "s",
    "session.warm_up_s": "s",
    "registry.construct_s": "s",
    "registry.construct_jobs": "count",
    "registry.construct_executor_s": "s",
    "registry.join_rows_per_result": "ratio",
    "spark.catalyst.analysis_s": "s",
    "spark.catalyst.optimization_s": "s",
    "spark.catalyst.planning_s": "s",
    "spark.scheduler.jobs": "count",
    "spark.scheduler.stages": "count",
    "spark.scheduler.tasks": "count",
    "spark.executor.run_s": "s",
    "spark.executor.cpu_s": "s",
    "spark.executor.gc_s": "s",
    "spark.executor.util": "ratio",
    "spark.shuffle.write_bytes": "B",
    "spark.shuffle.read_bytes": "B",
    "spark.shuffle.fetch_wait_s": "s",
    "spark.shuffle.spill_bytes": "B",
    "spark.python.run_s": "s",
    "spark.python.start_s": "s",
    "spark.python.init_s": "s",
    "spark.python.bytes_sent": "B",
    "spark.python.bytes_returned": "B",
    "ingest.write_bronze_s": "s",
    "ingest.rollup_to_silver_s": "s",
    "ingest.bytes_written": "B",
    "ingest.files_written": "count",
    "ingest.write_amp": "ratio",
    "streaming.trigger_s": "s",
    "streaming.tasks": "count",
    "streaming.start_stop_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "B",
    "streaming.state_commit_s": "s",
    "self.bench_s": "s",
    "self.registry_s": "s",
    "self.spark_s": "s",
    "self.ingest_s": "s",
    "self.streaming_s": "s",
    "trace.overhead_share": "ratio",
    "process.peak_rss_mb": "MB",
}
_SETUP = ("session.build_s", "registry.load_all_s", "catalog.load_s", "session.warm_up_s")


def per_layer(out: workloads.Outcome, setup: dict[str, float], tracer: Tracer, cores: int) -> dict[str, float]:
    """Every ``PER_LAYER`` metric of a traced run; 0 where a workload does
    not use the layer."""
    n = max(out.traced_ops, 1)
    s = out.layers
    m = {k: s.get(k, 0.0) / n for k in PER_LAYER}
    m.update(setup)
    action = s.get("spark.action_s", 0.0)
    m["spark.executor.util"] = s.get("spark.executor.cpu_s", 0.0) / (action * cores) if action else 0.0
    rows = s.get("result_rows", 0.0)
    m["registry.join_rows_per_result"] = s.get("join_rows", 0.0) / rows if rows else 0.0
    landed = s.get("ingest.bytes_landed", 0.0)
    m["ingest.write_amp"] = s.get("ingest.bytes_written", 0.0) / landed if landed else 0.0
    op_spans = Tracer(True)
    op_spans.spans = [sp for sp in tracer.spans if sp.op is not None]
    for layer, secs in op_spans.self_times().items():
        m[f"self.{layer}_s"] = secs / n
    t, u = out.traced_latencies, out.untraced_latencies
    m["trace.overhead_share"] = (sum(t) / len(t)) / (sum(u) / len(u)) - 1 if t and u else 0.0
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="0.1", choices=sorted(data.ROWS))
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec(PACKAGE) is None:
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(CACHE, "tmp", str(os.getpid()))
    data_dir = os.path.join(CACHE, "data")
    uses_tables = args.workload in USES_TABLES
    table_dir = digest = None
    if uses_tables:
        table_dir, digest = data.write_tables(args.scale, args.seed, data_dir)
        _prune_seed_dirs(data_dir, table_dir)
    _engine_env(tmp, cores)

    tracer = Tracer(bool(args.trace))
    t_setup = time.perf_counter()
    inputs_s = t_setup - T_START
    with tracer.span("build_session", "session") as s_session:
        from crypto_data_ingestion_script_spark.session import build_session

        spark = build_session("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
    try:
        from crypto_data_ingestion_script_spark import catalog
        from crypto_data_ingestion_script_spark.registry import load_all

        with tracer.span("load_all", "registry") as s_registry:
            registry = load_all()
        with tracer.span("load", "catalog") as s_catalog:
            if uses_tables:
                cat = catalog.load(spark, table_dir)
                for t in data.TABLES:
                    cat.table(t)
        with tracer.span("warm_up", "session") as s_warm:
            warm_up(spark, WARM_UPS[args.workload], tmp, cores)
        setup_s = time.perf_counter() - t_setup

        from oracle import OracleCache

        env = workloads.Env(
            spark=spark,
            registry=registry,
            table_dir=table_dir,
            work_dir=tmp,
            seed=args.seed,
            seconds=args.seconds,
            trace=bool(args.trace),
            cores=cores,
            tracer=tracer,
            oracle=OracleCache(digest, table_dir, CACHE, cores) if uses_tables else None,
            probe=SparkProbe(spark) if args.trace else None,
        )
        jvm_pid = spark.sparkContext._gateway.proc.pid
        sampler = RssSampler(jvm_pid).start()
        t_work = time.perf_counter()
        out = workloads.WORKLOADS[args.workload](env)
        work_s = time.perf_counter() - t_work
        peak_rss_mb = sampler.stop()
    finally:
        t_down = time.perf_counter()
        shutdown(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        down_s = time.perf_counter() - t_down

    if args.trace:
        tracer.dump(os.path.join(CACHE, "traces", f"{args.workload}-seed{args.seed}.json"))

    busy = sum(out.latencies)
    e2e = {
        "op_p50_s": workloads.median(out.latencies),
        "items_per_s": out.items / busy if busy else 0.0,
        "setup_s": setup_s,
    }
    names = E2E_NAMES[args.workload]
    print(f"workload {args.workload} seed {args.seed} scale {args.scale} local[{cores}] trace {args.trace}")
    for key, value in e2e.items():
        label = names.get(key, key)
        extra = f"  (n={out.attempted}, JSON {key})" if key in names else ""
        print(f"  {label:<16} {value:.6g} {E2E_UNITS[key]}{extra}")
    print(f"  {'peak_rss_mb':<16} {peak_rss_mb:.6g} MB  (Spark JVM and Python workers; per-layer process.peak_rss_mb)")
    tail = tail_percentile(out.latencies)
    lat_name = names["op_p50_s"].replace("_p50_s", "")
    if tail:
        p, v, beyond = tail
        print(f"  {lat_name}_p{p}_s {v:.6g} s  ({beyond} of {out.attempted} samples beyond it)")
    else:
        print(f"  {lat_name} tail: none ({out.attempted} samples; a tail percentile needs >= 10 beyond it)")
    print(f"  {lat_name} latencies s: " + " ".join(f"{x:.3f}" for x in out.latencies[:30]))
    error_rate = out.failed / out.attempted if out.attempted else 1.0
    print(f"  {'error_rate':<16} {error_rate:.6g} share  ({out.failed} failed of {out.attempted} attempted)")
    for err in out.errors:
        print(f"  error: {err}")
    print(
        f"  run wall: inputs {inputs_s:.1f} s, setup {setup_s:.1f} s, checks {out.check_s:.1f} s,"
        f" measured {work_s - out.check_s:.1f} s, teardown {down_s:.1f} s"
    )

    if args.trace:
        setup = dict(zip(_SETUP, (s_session.dur, s_registry.dur, s_catalog.dur, s_warm.dur)))
        metrics = per_layer(out, setup, tracer, cores)
        metrics["process.peak_rss_mb"] = peak_rss_mb
        for k, v in metrics.items():
            print(f"  {k:<36} {v:.6g} {PER_LAYER[k]}")
        result = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in metrics.items()}
    else:
        result = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    bad_names = [k for k in result if not valid_metric_name(k)]
    if bad_names:
        raise ValueError(f"invalid metric names: {bad_names}")
    correct = out.failed == 0 and not out.errors and out.attempted > 0
    print(json.dumps({"correct": correct, "attempted": max(out.attempted, 1), "failed": out.failed, "metrics": result}))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
