"""The four benchmark workloads, built from the engine's public layers.

Each workload has a warm-up (part of set-up) and a timed ``measure``
that returns a :class:`Result`. Correctness is checked after the timed
region, before the function returns.
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

import duckdb
import pyarrow as pa
from pyspark.sql import functions as F

import check
import gen
from tracing import Tracer, fold_progress, instrument_sink

from bench import HEADLINE  # the 25 headline leaves of bench.py
from dstream_spark.bench_pipeline import transform_stage
from dstream_spark.operators.dedup import dedup_stream
from dstream_spark.operators.event_time import with_event_time
from dstream_spark.queries import ALL_TABLES, QUERIES
from dstream_spark.sinks.merge import MergeSink
from dstream_spark.sources.registry import changefeed

WATERMARK = "30 minutes"


@dataclass(frozen=True)
class Shape:
    """Input sizes. ``FULL`` is the benchmark; ``SMOKE`` is for its tests."""

    base_sf: float  # base tables the feeds derive from
    batch_sf: float  # base tables of batch_queries
    backlog_replicas: int  # cdc_backlog feed: replicas of the transcripts
    window_replicas: int  # window_backlog feed
    backlog_files: int  # commit files per backlog feed
    files_per_trigger: int  # backlog micro-batch size, in commit files
    live_rate: float  # cdc_live commit files landed per second
    live_per_file: int  # original events per cdc_live commit file
    live_trigger_ms: int  # cdc_live processing-time trigger


FULL = Shape(0.1, 0.02, 2, 20, 16, 4, 5.0, 200, 100)
SMOKE = Shape(0.001, 0.001, 1, 1, 4, 2, 5.0, 20, 100)


@dataclass
class Ctx:
    spark: object
    shape: Shape
    seed: int
    seconds: float
    data: str  # input cache, kept across runs
    work: str  # this run's scratch, removed at exit
    tracer: Tracer
    listener: object | None  # ProgressListener when tracing
    cores: int
    rss_pids: list[int] = field(default_factory=list)  # driver and JVM

    def peak_rss_mb(self) -> float:
        """Summed peak RSS (VmHWM) of the driver and the JVM."""
        total = 0.0
        for pid in self.rss_pids:
            with open(f"/proc/{pid}/status") as f:
                total += next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:")) / 1024.0
        return total


@dataclass
class Result:
    throughput: float  # work units per second (events/s or leaves/s)
    latencies: list[float]  # seconds from due to visible, one per commit file or leaf
    attempted: int
    failed: int
    peak_rss_mb: float  # over the timed region
    report: dict[str, float] = field(default_factory=dict)  # workload-named metrics
    layers: dict[str, float] = field(default_factory=dict)  # per-layer metrics
    window: tuple[float, float] = (0.0, 0.0)  # timed region, epoch seconds


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _batch_of_file(ckpt: str) -> dict[str, int]:
    """Commit file name -> micro-batch id, from the file source's own
    log in the checkpoint."""
    out: dict[str, int] = {}
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(p) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def _sink_layers(sink: MergeSink, tracer: Tracer, since: float, until: float) -> dict[str, float]:
    pb = tracer.total_ms("sinks.process_batch", since, until)
    data = tracer.total_ms("sinks.data_write", since, until)
    lin = tracer.total_ms("sinks.lineage_write", since, until)
    replay = tracer.total_ms("sinks.replay_check", since, until)
    commit = tracer.total_ms("sinks.publish", since, until) - data - lin
    files = glob.glob(os.path.join(sink.data_dir, "**", "*.parquet"), recursive=True)
    n_rows = []
    lin_files = glob.glob(os.path.join(sink.lineage_dir, "**", "*.parquet"), recursive=True)
    if lin_files:
        con = duckdb.connect()
        try:
            n_rows = [r[0] for r in con.sql(f"SELECT n_rows FROM read_parquet({lin_files!r})").fetchall()]
        finally:
            con.close()
    return {
        "sinks.process_batch_ms": pb,
        "sinks.process_batch_self_ms": pb - data - lin - replay - commit,
        "sinks.replay_check_ms": replay,
        "sinks.data_write_ms": data,
        "sinks.lineage_write_ms": lin,
        "sinks.commit_ms": commit,
        "sinks.rows_written": float(sum(n_rows)),
        "sinks.bytes_written": float(sum(os.path.getsize(f) for f in files)),
        "sinks.files_written": float(len(files)),
        "sinks.replayed_batches": float(
            tracer.count("sinks.process_batch", since, until) - tracer.count("sinks.publish", since, until)
        ),
        "sinks.partition_skew": max(n_rows) / statistics.mean(n_rows) if n_rows else 0.0,
    }


# -- streaming jobs ------------------------------------------------------

def _dedup_job(ctx: Ctx, feed_dir: str, files_per_trigger: int):
    src = changefeed(ctx.spark, {"path": feed_dir, "max_files_per_trigger": files_per_trigger})
    return transform_stage(dedup_stream(src, watermark=WATERMARK))


def _dedup_sink(ctx: Ctx, table: str) -> MergeSink:
    return MergeSink(table, n_partitions=ctx.cores)


def _window_job(ctx: Ctx, feed_dir: str, files_per_trigger: int):
    src = changefeed(ctx.spark, {"path": feed_dir, "max_files_per_trigger": files_per_trigger})
    return (
        with_event_time(src, "ts")
        .withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"), "conv_id")
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(F.col("w.start").alias("w_start"), "conv_id", "n_turns")
    )


def _window_sink(ctx: Ctx, table: str) -> MergeSink:
    return MergeSink(
        table,
        keys=("w_start", "conv_id"),
        partition_key="conv_id",
        order_cols=("conv_id", "w_start"),
        version_col="_v",
        n_partitions=ctx.cores,
    )


JOBS = {
    "cdc_backlog": (_dedup_job, _dedup_sink, "append"),
    "window_backlog": (_window_job, _window_sink, "update"),
    "cdc_live": (_dedup_job, _dedup_sink, "append"),
}


def _start(ctx: Ctx, workload: str, feed_dir: str, run_dir: str, name: str, trigger: dict,
           files_per_trigger: int, commits: dict[int, float]):
    job, make_sink, mode = JOBS[workload]
    ctx.spark.conf.set("spark.sql.shuffle.partitions", str(ctx.cores))
    sink = make_sink(ctx, os.path.join(run_dir, "table"))
    if ctx.listener is not None:
        ctx.listener.names.add(name)
    q = (
        job(ctx, feed_dir, files_per_trigger)
        .writeStream.queryName(name)
        .outputMode(mode)
        .foreachBatch(instrument_sink(sink, ctx.tracer, commits))
        .option("checkpointLocation", os.path.join(run_dir, "ckpt"))
        .trigger(**trigger)
    )
    return sink, q.start()


def _drain(ctx: Ctx, workload: str, feed_dir: str, run_dir: str, name: str,
           files_per_trigger: int) -> tuple[MergeSink, dict[int, float], float, str]:
    commits: dict[int, float] = {}
    t0 = time.time()
    sink, q = _start(ctx, workload, feed_dir, run_dir, name, {"availableNow": True},
                     files_per_trigger, commits)
    q.awaitTermination()
    return sink, commits, t0, str(q.id)


def _expected_sql(workload: str, feed_glob: str) -> str:
    if workload == "window_backlog":
        return check.window_expected_sql(feed_glob)
    return check.dedup_expected_sql(feed_glob)


def _check_table(ctx: Ctx, workload: str, sink: MergeSink, expected_sql: str) -> bool:
    """The sink table equals DuckDB's answer over the same files, and
    a dedup sink wrote no key twice."""
    actual = sink.read_table(ctx.spark)
    if workload == "window_backlog":
        actual = actual.select("w_start", "conv_id", "n_turns")
    else:
        actual = actual.select(*check.DEDUP_TABLE_COLS)
    actual = actual.toArrow()
    if check.table_mismatches(expected_sql, actual) != 0:
        return False
    if workload == "window_backlog":
        return True
    # the table equals the expected one, so its row count is the number
    # of distinct keys; the lineage must count exactly those rows
    written = sink.read_lineage(ctx.spark).agg(F.sum("n_rows")).first()[0] or 0
    return int(written) == actual.num_rows


def _feed(ctx: Ctx, workload: str) -> tuple[str, int]:
    s = ctx.shape
    base = gen.sf_dir(ctx.data, ctx.seed, s.base_sf)
    reps = s.window_replicas if workload == "window_backlog" else s.backlog_replicas
    return gen.backlog_feed(ctx.data, base, ctx.seed, reps, s.backlog_files)


def _live_files(ctx: Ctx) -> tuple[str, int]:
    s = ctx.shape
    base = gen.sf_dir(ctx.data, ctx.seed, s.base_sf)
    n = max(2, math.ceil(ctx.seconds * s.live_rate))
    return gen.live_files(ctx.data, base, ctx.seed, n, s.live_per_file)


def prepare(ctx: Ctx, workload: str) -> None:
    """Build (or find cached) inputs; runs before set-up is timed."""
    if workload == "batch_queries":
        _oracle_digests(gen.sf_dir(ctx.data, ctx.seed, ctx.shape.batch_sf))
    elif workload == "cdc_live":
        _live_files(ctx)
    else:
        _feed(ctx, workload)


def warm_up(ctx: Ctx, workload: str) -> None:
    """One warm-up pass: the workload's job on its first commit file,
    or its first batch leaf."""
    if workload == "batch_queries":
        sf = gen.sf_dir(ctx.data, ctx.seed, ctx.shape.batch_sf)
        QUERIES[HEADLINE[0]].fn(ctx.spark, sf).write.format("noop").mode("overwrite").save()
        return
    src = _live_files(ctx)[0] if workload == "cdc_live" else _feed(ctx, workload)[0]
    first = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))[0]
    feed = _fresh(os.path.join(ctx.work, "warm", "in"))
    shutil.copy(os.path.join(src, first), feed)
    _drain(ctx, workload, feed, os.path.join(ctx.work, "warm"), f"warm_{ctx.tracer.run_id}", 1)
    shutil.rmtree(os.path.join(ctx.work, "warm"), ignore_errors=True)


def measure(ctx: Ctx, workload: str) -> Result:
    if workload == "batch_queries":
        return _batch_queries(ctx)
    if workload == "cdc_live":
        return _cdc_live(ctx)
    return _backlog(ctx, workload)


def _streaming_layers(ctx: Ctx, sink: MergeSink, query_id: str, since: float, until: float) -> dict:
    layers = {"streaming.query_wall_ms": 1000.0 * (until - since)}
    if ctx.tracer.enabled:
        layers.update(fold_progress(ctx.listener.progress_of(query_id), since))
        layers.update(_sink_layers(sink, ctx.tracer, since, until))
    return layers


def _backlog(ctx: Ctx, workload: str) -> Result:
    feed, events = _feed(ctx, workload)
    expected = _expected_sql(workload, os.path.join(feed, "*.parquet"))
    run_dir = _fresh(os.path.join(ctx.work, "drain"))
    with ctx.tracer.span("drain"):
        sink, commits, t0, qid = _drain(ctx, workload, feed, run_dir, f"{workload}_{ctx.tracer.run_id}",
                                        ctx.shape.files_per_trigger)
    t_end = time.time()
    peak_rss = ctx.peak_rss_mb()
    done = max(commits.values())
    rate = events / (done - t0)
    # a commit file is visible once the micro-batch that read it commits
    by_file = _batch_of_file(os.path.join(run_dir, "ckpt"))
    latencies = [commits[b] - t0 for b in by_file.values()]
    layers = _streaming_layers(ctx, sink, qid, t0, done)
    failed = int(len(by_file) != ctx.shape.backlog_files)
    failed += not _check_table(ctx, workload, sink, expected)
    shutil.rmtree(run_dir, ignore_errors=True)
    return Result(
        throughput=rate,
        latencies=latencies,
        attempted=len(commits) + 1,
        failed=failed,
        peak_rss_mb=peak_rss,
        report={"events_per_s": rate, "events": events},
        layers=layers,
        window=(t0, t_end),
    )


def _cdc_live(ctx: Ctx) -> Result:
    s = ctx.shape
    src, events = _live_files(ctx)
    expected = check.dedup_expected_sql(os.path.join(src, "*.parquet"))
    run_dir = _fresh(os.path.join(ctx.work, "live"))
    stage = os.path.join(run_dir, "stage")
    shutil.copytree(src, stage, ignore=shutil.ignore_patterns("_*"))
    watched = _fresh(os.path.join(run_dir, "in"))
    log = os.path.join(run_dir, "generator.jsonl")
    name = f"cdc_live_{ctx.tracer.run_id}"
    commits: dict[int, float] = {}
    sink, q = _start(ctx, "cdc_live", watched, run_dir, name,
                     {"processingTime": f"{s.live_trigger_ms} milliseconds"}, 10_000, commits)
    t_begin = time.time() + 1.0
    n_files = len(os.listdir(stage))
    proc = subprocess.Popen([
        sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "live_gen.py"),
        "--src", stage, "--dst", watched, "--rate", str(s.live_rate),
        "--t0", repr(t_begin), "--log", log,
    ])
    try:
        with ctx.tracer.span("live"):
            proc.wait(timeout=n_files / s.live_rate + 60)
            q.processAllAvailable()
        t_end = time.time()
    finally:
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        q.stop()
    peak_rss = ctx.peak_rss_mb()
    landed = [json.loads(line) for line in open(log)]
    by_file = _batch_of_file(os.path.join(run_dir, "ckpt"))
    files = sorted(f for f in by_file)
    fresh = [commits[by_file[f]] - landed[i]["due"] for i, f in enumerate(files)]
    done = max(commits.values())
    # backlog seen by the source: files landed but not yet committed
    commit_of = [commits[by_file[f]] for f in files]
    backlog = max(
        sum(1 for r in landed if r["landed"] <= t) - sum(1 for c in commit_of if c <= t)
        for t in [r["landed"] for r in landed]
    )
    layers = _streaming_layers(ctx, sink, str(q.id), t_begin, done)
    layers["sources.backlog_files_max"] = float(backlog)
    layers["sources.generator_late_ms_max"] = 1000.0 * max(r["landed"] - r["due"] for r in landed)
    failed = int(len(files) != n_files or len(landed) != n_files)
    failed += not _check_table(ctx, "cdc_live", sink, expected)
    shutil.rmtree(run_dir, ignore_errors=True)
    return Result(
        throughput=events / (done - t_begin),
        latencies=fresh,
        attempted=len(commits) + 1,
        failed=failed,
        peak_rss_mb=peak_rss,
        report={"events_per_s": events / (done - t_begin), "commit_files": n_files,
                "rate_files_per_s": s.live_rate},
        layers=layers,
        window=(t_begin, t_end),
    )


def _oracle_digests(sf: str) -> dict[str, dict]:
    """Each headline leaf's oracle digest over the tables in ``sf``,
    computed by DuckDB once per input and cached beside it."""
    path = os.path.join(sf, "_oracle_digests.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = duckdb.connect()
    try:
        for t in ALL_TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf, t)}.parquet'")
        out = {name: check.oracle_digest(con, QUERIES[name].oracle) for name in HEADLINE}
    finally:
        con.close()
    with open(path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(path + ".tmp", path)
    return out


def _batch_queries(ctx: Ctx) -> Result:
    spark = ctx.spark
    sf = gen.sf_dir(ctx.data, ctx.seed, ctx.shape.batch_sf)
    # one pass: each leaf runs once and its result is fetched as Arrow,
    # so the timed pass is also the pass whose outputs are checked
    times: dict[str, float] = {}
    results: dict[str, tuple[list[str], pa.Table]] = {}
    t_begin = time.time()
    for name in HEADLINE:
        with ctx.tracer.span(f"queries.{name}"):
            t0 = time.perf_counter()
            df = QUERIES[name].fn(spark, sf)
            table = df.toArrow()
            times[name] = time.perf_counter() - t0
        results[name] = (df.columns, table)
    t_end = time.time()
    peak_rss = ctx.peak_rss_mb()

    expected = _oracle_digests(sf)
    failed = sum(
        not check.leaf_matches(expected[name], cols, check.rows_of(table))
        for name, (cols, table) in results.items()
    )
    total = sum(times.values())
    geo = math.exp(statistics.mean(math.log(v) for v in times.values()))
    return Result(
        throughput=len(HEADLINE) / total,
        latencies=list(times.values()),
        attempted=len(HEADLINE),
        failed=failed,
        peak_rss_mb=peak_rss,
        report={"queries_total_s": total, "queries_geomean_s": geo},
        layers={f"queries.{n}_s": v for n, v in times.items()},
        window=(t_begin, t_end),
    )
