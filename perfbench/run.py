"""dstream_spark benchmark: one workload per process.

    python3 perfbench/run.py --workload cdc_backlog --seed 1 --seconds 15 --trace 0

Workloads: cdc_backlog, window_backlog, cdc_live, batch_queries (see
perfbench/README.md for what each stresses). Inputs are generated
from --seed under .perfbench/data in the checkout and cached there;
the run's Spark scratch, checkpoints and event log live under
.perfbench/work and are removed when it ends.

Prints one line per metric (``name value unit``), then, as the last
line, a JSON object with the keys correct, attempted, failed and
metrics. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
is the traced run: it reports the per-layer metrics and writes its
spans to .perfbench/traces/.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from pyspark import SparkContext  # noqa: E402

import workloads as wl  # noqa: E402
from dstream_spark.session import get_spark  # noqa: E402
from tracing import ProgressListener, Tracer, fold_event_log, gc_totals  # noqa: E402

WORKLOADS = ("cdc_backlog", "window_backlog", "cdc_live", "batch_queries")
TAIL_MIN_BEYOND = 10

END_TO_END_UNITS = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
}


def tail(values: list[float]) -> tuple[float, float, int]:
    """(pct, value, n): the highest percentile with at least ten samples
    beyond it, by nearest rank. Falls back to the maximum when there
    are too few samples to leave ten beyond anything."""
    v = sorted(values)
    n = len(v)
    k = n - TAIL_MIN_BEYOND  # rank with ten samples above it
    if k < 1:
        return 100.0, v[-1], n
    return 100.0 * k / n, v[k - 1], n


def driver_memory() -> str:
    """Spark driver heap: a quarter of the host's RAM, 2-8 GB."""
    with open("/proc/meminfo") as f:
        kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{min(8, max(2, kb // (4 * 1024 * 1024)))}g"


def reset_peak_rss(pids: list[int]) -> None:
    """Restart the kernel's peak-RSS count (VmHWM) of each process.
    Where /proc is read-only the peak counts from process start."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError as e:
            print(f"peak RSS not reset for pid {pid}: {e}", file=sys.stderr)


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for its exit."""
    gw = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gw is not None:
        proc = gw.proc
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="sf0.001 inputs, for the benchmark's tests")
    a = ap.parse_args()

    state = os.path.join(ROOT, ".perfbench")
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}-{int(time.time())}"
    work = os.path.join(state, "work", run_id)
    try:
        return run(a, state, run_id, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(a: argparse.Namespace, state: str, run_id: str, work: str) -> int:
    """One run; ``work`` is its scratch, which the caller removes."""
    for d in ("local", "tmp", "eventlog", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # Python workers import the engine's kernels from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_memory()
    cores = os.cpu_count() or 1
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if a.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    tracer = Tracer(run_id, enabled=bool(a.trace))
    shape = wl.SMOKE if a.smoke else wl.FULL
    ctx = wl.Ctx(None, shape, a.seed, a.seconds, os.path.join(state, "data"), work,
                 tracer, ProgressListener() if a.trace else None, cores)
    # inputs are built (or found in the cache) before anything is timed
    wl.prepare(ctx, a.workload)
    spark = None
    try:
        # set-up = what a user pays in a fresh process: get_spark (JVM
        # launch and its Python prewarm), then one warm-up pass of the job
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench_{a.workload}", cores=cores, extra_conf=conf)
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        ctx.spark = spark
        t0 = time.perf_counter()
        wl.warm_up(ctx, a.workload)
        warm_s = time.perf_counter() - t0
        if ctx.listener is not None:
            spark.streams.addListener(ctx.listener)
        ctx.rss_pids = [os.getpid(), int(spark._jvm.java.lang.ProcessHandle.current().pid())]
        reset_peak_rss(ctx.rss_pids)
        gc0 = gc_totals(spark)
        res = wl.measure(ctx, a.workload)
        gc1 = gc_totals(spark)
        if ctx.listener is not None:
            spark.streams.removeListener(ctx.listener)
    finally:
        stop_spark(spark)

    error_rate = res.failed / res.attempted
    pct, tail_v, n = tail(res.latencies)
    e2e = {
        "setup_s": session_s + warm_s,
        "throughput_per_s": res.throughput,
        "latency_p50_s": statistics.median(res.latencies),
    }
    report_units = {"events_per_s": "1/s", "queries_total_s": "s", "queries_geomean_s": "s",
                    "rate_files_per_s": "1/s"}
    lines = [(k, v, END_TO_END_UNITS[k]) for k, v in e2e.items()]
    lines += [(k, v, report_units.get(k, "count")) for k, v in res.report.items()]
    lines += [
        ("latency_tail_s", tail_v, "s"), ("latency_tail_pct", pct, "%"), ("latency_samples", n, "count"),
        ("error_rate", error_rate, "ratio"), ("peak_rss_mb", res.peak_rss_mb, "MB"),
        ("setup_session_s", session_s, "s"), ("setup_warm_up_s", warm_s, "s"),
    ]
    if a.workload == "cdc_live":
        lines += [("freshness_p50_s", e2e["latency_p50_s"], "s"), ("freshness_tail_s", tail_v, "s")]

    metrics_out: dict[str, dict] = {}
    if a.trace:
        layers = dict(res.layers)
        layers["jvm.gc_ms"] = gc1[0] - gc0[0]
        layers["jvm.gc_count"] = float(gc1[1] - gc0[1])
        layers["jvm.peak_rss_mb"] = res.peak_rss_mb
        layers["session.get_spark_s"] = session_s
        layers["session.warm_up_s"] = warm_s
        layers.update(fold_event_log(os.path.join(work, "eventlog"), *res.window))
        units = per_layer_units()
        for name, unit in units.items():
            metrics_out[name] = {"value": float(layers.get(name, 0.0)), "unit": unit}
        extra = sorted(set(layers) - set(units))
        lines += [(k, layers[k], "") for k in extra]
        tracer.dump(os.path.join(state, "traces", f"{run_id}.json"))
    else:
        metrics_out = {k: {"value": float(v), "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}

    for k, v, u in lines:
        print(f"{k} {v:.6g} {u}".rstrip())
    if a.trace:
        for k, m in metrics_out.items():
            print(f"{k} {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": res.failed == 0 and all(math.isfinite(m["value"]) for m in metrics_out.values()),
        "attempted": int(res.attempted),
        "failed": int(res.failed),
        "metrics": metrics_out,
    }))
    return 0


def per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
