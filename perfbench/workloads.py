"""The three workloads. Each is closed-loop with one client: the next
operation starts when the previous one returns.

* ``analyst_queries``: one operation is one registered query, built by its
  registry callable and run to a ``noop`` write (every column computed,
  nothing collected). Queries run in rounds; each round is a seeded
  permutation of all of them, and the run measures whole rounds.
* ``llm_dedup``: one operation is a pass over the LLM-data queries in
  their listed order.
* ``tick_ingest``: one operation is one landed tick batch, timed from
  landing until silver is readable: bronze append, one availableNow
  trigger of the streaming OHLC query (persistent checkpoint, parquet file
  sink), silver rewrite.

Outputs are checked outside the timed region: the registry queries once
per run each (the untimed first execution, which also warms their plans),
every tick batch after it lands.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import statistics
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import data
from oracle import OracleCache, canonical_hash
from layers import SparkProbe, Tracer

ANALYST_QUERIES = [
    "q_ohlc_hourly",
    "q_join_inner",
    "q_join_broadcast",
    "q_join_range",
    "q_join_asof",
    "q_rollup",
    "q_count_distinct",
    "q_rank",
    "q_moving_avg",
    "q_topk",
    "q_udf_pandas",
    "q_wordcount",
    "q_tpch_q1",
    "q_tpch_q3",
    "q_tpch_q5",
]

LLM_QUERIES = [
    "q_dedup_exact",
    "q_dedup_near",
    "q_jaccard_join",
    "q_ann_lsh",
    "q_cosine_topk",
    "q_pipeline_training_data",
]

#: Stream watermark of tick_ingest. Late and re-delivered ticks are at most
#: ``TickSpec.late_window_s`` behind the newest tick, so none is dropped.
TICK_WATERMARK = "15 minutes"
#: Untimed batches before timing starts, and the fewest timed batches a run
#: measures, so that its median never rests on a single batch.
WARM_BATCHES = 1
MIN_BATCHES = 4


@dataclass
class Env:
    spark: object
    registry: dict
    table_dir: str
    work_dir: str
    seed: int
    seconds: float
    trace: bool
    cores: int
    tracer: Tracer
    oracle: OracleCache | None = None
    probe: SparkProbe | None = None


@dataclass
class Outcome:
    """What a workload returns to the runner."""

    latencies: list[float] = field(default_factory=list)
    items: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    #: Per-layer sums over traced operations, and their count.
    layers: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    traced_ops: int = 0
    #: Seconds spent outside the timed region on output checks and warm runs.
    check_s: float = 0.0
    traced_latencies: list[float] = field(default_factory=list)
    untraced_latencies: list[float] = field(default_factory=list)

    @property
    def attempted(self) -> int:
        return len(self.latencies)


def _error(exc: BaseException) -> str:
    first = (str(exc).strip().splitlines() or [""])[0]
    return f"{type(exc).__name__}: {first[:200]}"


def _units(env: Env, min_units: int):
    """Yield (index, traced) for each timed unit (a round, pass or batch)
    until ``env.seconds`` have passed and at least ``min_units`` ran, so a
    run's median always rests on the same support. In a traced run units
    alternate untraced/traced and at least one of each runs, so tracing
    overhead is measured in-run; odd seeds start with a traced unit and even
    seeds with an untraced one, so run order does not lean the overhead
    figure one way. Before each traced unit the probe forgets the SQL
    executions of the untraced work that preceded it."""
    deadline = time.perf_counter() + env.seconds
    least = max(min_units, 2) if env.trace else min_units
    i = 0
    while True:
        traced = env.trace and (i + env.seed) % 2 == 1
        if traced:
            env.probe.skip_executions()
        yield i, traced
        i += 1
        if time.perf_counter() >= deadline and i >= least:
            return


# --- registry-query workloads ----------------------------------------------


#: Concurrent queries in the untimed check pass. Most of a first run is
#: JVM-side planning and code generation and Python-side hashing, which
#: overlap well; the timed region always runs one query at a time.
CHECK_THREADS = 4


def _check_queries(env: Env, names: list[str], out: Outcome) -> tuple[dict[str, int], set[str]]:
    """Run each query once, untimed, and compare its result hash with the
    oracle. Returns result row counts and the names that failed."""
    t0 = time.perf_counter()
    specs = {n: env.registry[n] for n in names}
    expected = env.oracle.expected(specs)

    def check(n: str) -> tuple[int, str | None]:
        try:
            pdf = specs[n].fn(env.spark, env.table_dir).toPandas()
        except Exception as exc:  # itemised, counted, never skipped
            return 0, _error(exc)
        got = canonical_hash(pdf)
        if got != expected[n]:
            return len(pdf), f"result hash {got[:12]} != oracle {expected[n][:12]}"
        return len(pdf), None

    rows: dict[str, int] = {}
    bad: set[str] = set()
    with ThreadPoolExecutor(CHECK_THREADS) as pool:
        for n, (count, err) in zip(names, pool.map(check, names)):
            rows[n] = count
            if err:
                bad.add(n)
                out.errors.append(f"{n}: {err}")
    out.check_s += time.perf_counter() - t0
    return rows, bad


def _run_query(env: Env, name: str, traced: bool, layers: dict[str, float]) -> tuple[float, str | None]:
    """Build and run one registry query; returns (seconds, error or None)."""
    spec = env.registry[name]
    probe = env.probe if traced else None
    group = f"op{env.tracer.op}:{name}"
    df = None
    t0 = time.perf_counter()
    with env.tracer.span(name, "bench"):
        try:
            if probe:
                probe.group(group + ":construct")
            with env.tracer.span("construct", "registry") as build_span:
                df = spec.fn(env.spark, env.table_dir)
            if probe:
                probe.group(group + ":action")
            with env.tracer.span("action", "spark"):
                df.write.format("noop").mode("overwrite").save()
            error = None
        except Exception as exc:  # itemised and counted by the caller
            error = _error(exc)
    elapsed = time.perf_counter() - t0
    if probe:
        probe.clear_group()
        build = probe.stage_metrics(group + ":construct")
        layers["registry.construct_s"] += build_span.dur
        layers["registry.construct_jobs"] += build.get("spark.scheduler.jobs", 0)
        layers["registry.construct_executor_s"] += build.get("spark.executor.run_s", 0)
        action_wall = elapsed - build_span.dur
        layers["spark.action_s"] += action_wall
        for k, v in probe.stage_metrics(group + ":action").items():
            layers[k] += v
        for k, v in probe.sql_metrics().items():
            layers[k] += v
        if df is not None:
            for k, v in probe.catalyst_phases(df).items():
                layers[k] += v
    return elapsed, error


def analyst_queries(env: Env) -> Outcome:
    out = Outcome()
    rows, bad = _check_queries(env, ANALYST_QUERIES, out)
    rng = np.random.default_rng([env.seed, 2])
    for i, traced in _units(env, 1):
        env.tracer.enabled = traced
        for name in map(str, rng.permutation(ANALYST_QUERIES)):
            env.tracer.op = len(out.latencies)
            lat, error = _run_query(env, name, traced, out.layers)
            out.latencies.append(lat)
            out.items += 1
            out.failed += int(bool(error) or name in bad)
            if error:
                out.errors.append(f"{name} (timed, round {i}): {error}")
            if env.trace:
                (out.traced_latencies if traced else out.untraced_latencies).append(lat)
            if traced:
                out.traced_ops += 1
                out.layers["result_rows"] += rows.get(name, 0)
    return out


def llm_dedup(env: Env) -> Outcome:
    out = Outcome()
    rows, bad = _check_queries(env, LLM_QUERIES, out)
    n_docs = pq.ParquetFile(os.path.join(env.table_dir, "documents.parquet")).metadata.num_rows
    for i, traced in _units(env, 1):
        env.tracer.enabled = traced
        env.tracer.op = i
        errors = []
        t0 = time.perf_counter()
        with env.tracer.span("pass", "bench"):
            for name in LLM_QUERIES:
                _, error = _run_query(env, name, traced, out.layers)
                if error:
                    errors.append(f"{name} (timed, pass {i}): {error}")
        lat = time.perf_counter() - t0
        out.latencies.append(lat)
        out.items += n_docs
        out.failed += int(bool(errors) or bool(bad))
        out.errors += errors
        if env.trace:
            (out.traced_latencies if traced else out.untraced_latencies).append(lat)
        if traced:
            out.traced_ops += 1
            out.layers["result_rows"] += sum(rows.values())
    return out


# --- tick ingestion ---------------------------------------------------------


def _files(root: str) -> dict[str, tuple[int, int]]:
    found = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            st = os.stat(p)
            found[p] = (st.st_size, st.st_mtime_ns)
    return found


_BARS = """
    arg_min(price, ts) AS open_price, max(price) AS high_price,
    min(price) AS low_price, arg_max(price, ts) AS close_price,
    CAST(sum(CAST(price AS DECIMAL(18,6))) AS DOUBLE) / count(price) AS avg_price,
    count(*) AS sample_count
"""


def _check_lake(con, lake: dict[str, str], watermark: str | None) -> list[str]:
    """Silver and the emitted bars against DuckDB over every landed tick."""
    landed = f"read_parquet('{lake['landing']}/*.parquet')"
    want = con.execute(
        f"SELECT CAST(date_trunc('hour', ts) AS DATE) AS date,"
        f" CAST(hour(ts) AS INTEGER) AS hour, symbol, {_BARS}"
        f" FROM {landed} GROUP BY ALL"
    ).fetchdf()
    got = con.execute(
        "SELECT date, hour, symbol, open_price, high_price, low_price, close_price,"
        " avg_price, sample_count FROM read_parquet("
        f"'{lake['silver']}/*/*.parquet', hive_partitioning = true)"
    ).fetchdf()
    errors = []
    if canonical_hash(got) != canonical_hash(want):
        errors.append(f"silver: {len(got)} bars differ from oracle's {len(want)}")
    cutoff = "TIMESTAMP '1970-01-01'"
    if watermark:
        wm = dt.datetime.fromisoformat(watermark.replace("Z", "+00:00")).replace(tzinfo=None)
        cutoff = f"TIMESTAMP '{wm.isoformat(sep=' ')}'"
    want = con.execute(
        f"SELECT * FROM (SELECT date_trunc('hour', ts) AS hour_ts, symbol AS event_type,"
        f" {_BARS} FROM {landed} GROUP BY ALL) WHERE hour_ts + INTERVAL 1 HOUR <= {cutoff}"
    ).fetchdf()
    parts = [p for p in os.listdir(lake["bars"]) if p.endswith(".parquet")] if os.path.isdir(lake["bars"]) else []
    if parts:
        got = con.execute(f"SELECT * FROM read_parquet('{lake['bars']}/*.parquet')").fetchdf()
    else:
        got = want.iloc[0:0]
    if canonical_hash(got) != canonical_hash(want):
        errors.append(f"emitted bars: {len(got)} rows differ from oracle's {len(want)}")
    return errors


def _tick_batch(env: Env, lake: dict[str, str], k: int, batch, traced: bool, layers: dict[str, float]) -> tuple[float, str | None]:
    """Land batch ``k`` and push it through bronze, the stream and silver.

    Returns (seconds from landing to silver written, last watermark)."""
    from pyspark.sql import functions as F

    from crypto_data_ingestion_script_spark import ingest
    from crypto_data_ingestion_script_spark.streaming import jobs

    spark, tracer = env.spark, env.tracer
    probe = env.probe if traced else None
    path = os.path.join(lake["landing"], f"batch-{k:06d}.parquet")
    pq.write_table(batch, path)
    before = _files(lake["bronze"]) | _files(lake["silver"]) if traced else {}
    group = f"op{tracer.op}:batch"
    t0 = time.perf_counter()
    with tracer.span("batch", "bench"):
        if probe:
            probe.group(group + ":bronze")
        with tracer.span("write_bronze", "ingest") as s_bronze:
            ingest.write_bronze(spark.read.parquet(path), lake["bronze"])
        if probe:
            # The query's own thread runs the trigger's jobs under the job
            # group Spark gives it, the query's runId; they are read below.
            probe.clear_group()
        with tracer.span("trigger", "streaming") as s_trigger:
            ticks = (
                spark.readStream.schema("ts timestamp_ntz, symbol string, price double")
                .parquet(lake["landing"])
                .select(
                    F.col("ts").cast("timestamp").alias("ts"),
                    F.col("symbol").alias("event_type"),
                    F.col("price").alias("value"),
                )
            )
            bars = jobs.tumbling_ohlc_stream(ticks, watermark=TICK_WATERMARK).select(
                F.col("w.start").cast("timestamp_ntz").alias("hour_ts"),
                "event_type",
                "open_price",
                "high_price",
                "low_price",
                "close_price",
                "avg_price",
                "sample_count",
            )
            query = (
                bars.writeStream.format("parquet")
                .outputMode("append")
                .option("path", lake["bars"])
                .option("checkpointLocation", lake["checkpoint"])
                .trigger(availableNow=True)
                .start()
            )
            query.awaitTermination()
        if probe:
            probe.group(group + ":silver")
        with tracer.span("rollup_to_silver", "ingest") as s_silver:
            ingest.rollup_to_silver(spark, lake["bronze"], lake["silver"])
    elapsed = time.perf_counter() - t0
    progress = [json.loads(p.json) for p in query.recentProgress]
    watermark = next(
        (p["eventTime"].get("watermark") for p in reversed(progress) if p.get("eventTime")), None
    )
    if probe:
        probe.clear_group()
        layers["spark.action_s"] += elapsed
        stream = probe.stage_metrics(str(query.runId))
        layers["streaming.tasks"] += stream.get("spark.scheduler.tasks", 0)
        for found in (probe.stage_metrics(f"{group}:bronze"), stream, probe.stage_metrics(f"{group}:silver")):
            for key, v in found.items():
                layers[key] += v
        for key, v in probe.sql_metrics().items():
            layers[key] += v
        after = _files(lake["bronze"]) | _files(lake["silver"])
        written = [p for p, meta in after.items() if before.get(p) != meta]
        layers["ingest.write_bronze_s"] += s_bronze.dur
        layers["ingest.rollup_to_silver_s"] += s_silver.dur
        layers["ingest.bytes_written"] += sum(after[p][0] for p in written)
        layers["ingest.files_written"] += len(written)
        layers["ingest.bytes_landed"] += os.path.getsize(path)
        trigger_ms = sum(p["durationMs"].get("triggerExecution", 0) for p in progress)
        layers["streaming.trigger_s"] += s_trigger.dur
        layers["streaming.start_stop_s"] += s_trigger.dur - trigger_ms / 1e3
        layers["streaming.add_batch_s"] += sum(p["durationMs"].get("addBatch", 0) for p in progress) / 1e3
        layers["streaming.wal_commit_s"] += sum(p["durationMs"].get("walCommit", 0) for p in progress) / 1e3
        ops = progress[-1]["stateOperators"] if progress else []
        layers["streaming.state_rows"] += sum(s["numRowsTotal"] for s in ops)
        layers["streaming.state_bytes"] += sum(s["memoryUsedBytes"] for s in ops)
        layers["streaming.state_commit_s"] += sum(
            s["commitTimeMs"] for p in progress for s in p["stateOperators"]
        ) / 1e3
    return elapsed, watermark


def tick_ingest(env: Env) -> Outcome:
    import duckdb

    out = Outcome()
    root = os.path.join(env.work_dir, f"lake-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    lake = {k: os.path.join(root, k) for k in ("landing", "bronze", "silver", "bars", "checkpoint")}
    os.makedirs(lake["landing"])
    con = duckdb.connect()
    con.execute(f"SET threads = {env.cores}")
    stream = data.tick_batches(data.TickSpec(), env.seed)
    try:
        # The first batch lands untimed: it starts the stream's checkpoint and
        # takes the plans past their first, slowest execution. It is checked
        # like every other batch.
        for k in range(WARM_BATCHES):
            t0 = time.perf_counter()
            _, wm = _tick_batch(env, lake, k, next(stream), False, out.layers)
            out.errors += [f"batch {k}: {e}" for e in _check_lake(con, lake, wm)]
            out.check_s += time.perf_counter() - t0
        for i, traced in _units(env, MIN_BATCHES):
            env.tracer.enabled = traced
            env.tracer.op = i
            k = WARM_BATCHES + i
            batch = next(stream)
            t0 = time.perf_counter()
            try:
                lat, wm = _tick_batch(env, lake, k, batch, traced, out.layers)
                t1 = time.perf_counter()
                errs = _check_lake(con, lake, wm)
                out.check_s += time.perf_counter() - t1
            except Exception as exc:  # itemised and counted as failed
                lat, errs = time.perf_counter() - t0, [_error(exc)]
            out.latencies.append(lat)
            out.items += batch.num_rows
            out.failed += int(bool(errs))
            out.errors += [f"batch {k}: {e}" for e in errs]
            if env.trace:
                (out.traced_latencies if traced else out.untraced_latencies).append(lat)
            if traced:
                out.traced_ops += 1
    finally:
        con.close()
        shutil.rmtree(root, ignore_errors=True)
    return out


WORKLOADS = {
    "analyst_queries": analyst_queries,
    "llm_dedup": llm_dedup,
    "tick_ingest": tick_ingest,
}


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")
