#!/usr/bin/env python3
"""Benchmark of the engine's traffic pipeline and batch query mix.

Run from the repository root:

    python3 perfbench/run.py --workload traffic_trickle --seed 1 --seconds 8 --trace 0

``--trace 0`` prints the end-to-end metrics of one timed pass;
``--trace 1`` runs an untraced, a traced and another untraced pass and
prints the per-layer metrics of the traced one (see README.md). The
last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Diagnostics go to
standard error. Everything the run writes stays under the repository
root: scratch data in ``.perfbench_work/`` (removed at exit) and the
span trace of ``--trace 1`` in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

PER_LAYER = (
    "peak_rss_mb",
    "setup.import_s",
    "session.get_spark_s",
    "setup.warmup_s",
    "traffic.run_traffic_pipeline_ms",
    "traffic.traffic_aggregate_ms",
    "trigger.triggerExecution_ms",
    "trigger.latestOffset_ms",
    "trigger.getBatch_ms",
    "trigger.queryPlanning_ms",
    "trigger.addBatch_ms",
    "trigger.walCommit_ms",
    "trigger.commitOffsets_ms",
    "trigger.floor_ms",
    "trigger.addBatch_self_ms",
    "trigger.jobs_per_batch",
    "trigger.residue_ms",
    "trigger.unaccounted_batches",
    "stream.batches",
    "stream.records_per_s",
    "sinks.compute_ms",
    "sinks.commit_ms",
    "sinks.read_ms",
    "sinks.compute_calls",
    "sinks.staged_ratio",
    "state.commit_ms",
    "state.rows_total",
    "state.rows_updated",
    "state.memory_mb",
    *(
        f"query.{fam}{part}"
        for fam in ("", "relational.", "keyed_merge.", "dedup_text.", "similarity.")
        for part in ("build_ms", "plan_ms", "jobs_ms", "gap_ms", "jobs")
    ),
    "query.unaccounted",
    "trace.overhead_pct",
    "trace.spans",
)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def reset_peak_rss(pid: int | str) -> None:
    """Reset a process's peak RSS to its current RSS."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def vm_mb(pid: int | str, field: str) -> float:
    """A memory figure of a process (``VmRSS``, ``VmHWM``) in MB, from
    /proc/<pid>/status."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def full_gc(spark) -> None:
    """Run a full collection in the JVM. G1 then shrinks the heap to
    what is live and returns the rest to the OS in the background, so
    wait a moment for RSS to settle."""
    spark.sparkContext._jvm.System.gc()
    time.sleep(1.0)


def configure_env(work: str) -> None:
    """Session settings of the benchmark: all cores, the engine's own
    driver heap, and every scratch path inside the work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # No perf-data file: the JVM would write it under /tmp.
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
    )
    # Python workers import the engine package from the checkout.
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    sys.path.insert(1, ROOT)


def start_session():
    from spark_stream_kudu_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    elapsed = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, elapsed


def stop_session(spark) -> None:
    """Stop the session, shut the JVM down and wait for it to exit, so
    no process outlives the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 (last resort: do not leak the JVM)
                proc.kill()
                proc.wait()


def make_workload(name: str):
    import querymix
    import streams

    if name == "traffic_trickle":
        return streams.TrafficStream(**streams.TRICKLE)
    if name == "traffic_windowed":
        return streams.TrafficStream(**streams.WINDOWED)
    return querymix.QueryMix()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("traffic_trickle", "traffic_windowed", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    configure_env(work)
    os.chdir(work)
    spark = None
    try:
        # Engine imports count towards set-up time.
        from spark_stream_kudu_spark.registry import load_all
        from spark_stream_kudu_spark.streaming import sinks, traffic  # noqa: F401

        load_all()
        import_s = process_age_s()

        wl = make_workload(args.workload)
        # The traced run makes three passes, each half the timed size.
        wl.prepare(work, args.seed, args.seconds, 0.5 if args.trace else 1.0)

        spark, session_s = start_session()
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000000")
        t0 = time.perf_counter()
        wl.warmup(spark)
        warmup_s = time.perf_counter() - t0
        setup_s = import_s + session_s + warmup_s
        log(f"setup {setup_s:.2f}s (import {import_s:.2f}, session {session_s:.2f}, "
            f"warm-up {warmup_s:.2f})")

        # Every pass starts from the heap the warm-up left live, however
        # far the collector had grown it. Peak RSS counts the passes
        # only: not input generation, the warm-up or the output checks.
        full_gc(spark)
        pids = ("self", spark.sparkContext._gateway.proc.pid)
        for pid in pids:
            reset_peak_rss(pid)
        if args.trace:
            passes = [wl.run_pass(spark, "untraced-1")]
            traced, tracer = wl.traced_pass(spark, "traced")
            passes += [traced, wl.run_pass(spark, "untraced-2")]
        else:
            passes = [wl.run_pass(spark, "timed")]
        peaks_mb = [vm_mb(pid, "VmHWM") for pid in pids]
        # What stays resident once the passes' garbage is collected.
        full_gc(spark)
        retained_mb = [vm_mb(pid, "VmRSS") for pid in pids]
        log(f"peak rss: driver {peaks_mb[0]:.0f} MB, jvm {peaks_mb[1]:.0f} MB; "
            f"retained: driver {retained_mb[0]:.0f} MB, jvm {retained_mb[1]:.0f} MB")
        failures = [wl.check(spark, p) for p in passes]
        attempted = sum(p["attempted"] for p in passes)
        failed = sum(len(f) for f in failures)
        for f in [f for per_pass in failures for f in per_pass][:20]:
            log(f"failed: {f}")

        if args.trace:
            layers = wl.layers(traced, tracer)
            untraced = [x for p in (passes[0], passes[2]) for x in p["latencies_ms"]]
            layers.update({
                "peak_rss_mb": sum(peaks_mb),
                "setup.import_s": import_s,
                "session.get_spark_s": session_s,
                "setup.warmup_s": warmup_s,
                "trace.overhead_pct": 100.0 * (
                    statistics.median(traced["latencies_ms"])
                    / statistics.median(untraced) - 1.0
                ),
                "trace.spans": float(len(tracer.spans)),
            })
            metrics = {
                k: {"value": float(layers.get(k, 0.0)), "unit": unit_of(k)}
                for k in PER_LAYER
            }
            write_trace(args, tracer, traced, layers)
        else:
            p = passes[0]
            lat = p["latencies_ms"]
            values = {
                "setup_s": (setup_s, "s"),
                "retained_rss_mb": (sum(retained_mb), "MB"),
                "p50_ms": (statistics.median(lat), "ms"),
                "ops_per_s": (p["attempted"] / p["elapsed_s"], "1/s"),
            }
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in values.items()}
            log(f"latencies: {[round(x) for x in lat]}")
            log(f"{len(lat)} samples in {p['elapsed_s']:.2f}s: "
                + ", ".join(f"{k}={v['value']:.4g}" for k, v in metrics.items()))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))


def unit_of(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_pct"):
        return "%"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


def write_trace(args, tracer, traced: dict, layers: dict) -> None:
    """Write the traced pass's spans, joined sources and layer numbers."""
    from spans import self_times_ms

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    self_ms = self_times_ms(tracer.spans)
    for s in tracer.spans:
        s["self_ms"] = self_ms.get(s["id"])
    doc = {
        "workload": args.workload,
        "seed": args.seed,
        "layers": layers,
        "spans": tracer.spans,
        "jobs": traced.get("jobs", []),
        "progress": traced.get("progress", []),
        "per_query": traced.get("per_query", []),
    }
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump(doc, f, default=str)
    log(f"trace written to {path}")


if __name__ == "__main__":
    sys.exit(main())
