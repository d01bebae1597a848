"""The two stream workloads: ``traffic_trickle`` (parity mode, many
small batches) and ``traffic_windowed`` (event-time mode, large
batches with out-of-order events).

Each pass runs ``streaming.traffic.run_traffic_pipeline`` over a
pre-staged backlog of CSV files, one file per micro-batch
(``maxFilesPerTrigger=1``, ``availableNow``), closed loop, one stream.
A batch's latency is its ``triggerExecution`` from
``StreamingQueryProgress``; the drain rate is input records over the
time from the pipeline call to termination.
"""

from __future__ import annotations

import contextlib
import datetime
import os
import time
from unittest import mock

import duckdb
import numpy as np
import pyarrow as pa

import inputs
from spans import (
    Tracer,
    interval_union_ms,
    jobs_since,
    maybe_span,
    median,
    next_job_id,
)

# Progress phases of one trigger, in the order the engine runs them.
PHASES = (
    "latestOffset",
    "getBatch",
    "queryPlanning",
    "addBatch",
    "walCommit",
    "commitOffsets",
)
# A batch's phases account for its triggerExecution when the
# unattributed remainder is within this many ms or this share of it.
RESIDUE_TOL_MS = 25.0
RESIDUE_TOL_SHARE = 0.10
# Fewest files in a timed backlog, so a short run still has enough
# batches for a median.
MIN_FILES = 12


def _progress_start(p: dict) -> float:
    ts = datetime.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return ts.replace(tzinfo=datetime.timezone.utc).timestamp()


def _fround2(x: float) -> float:
    """The engine's deterministic round-half-up to 2 decimals."""
    return float(np.floor(x * 100.0 + 0.5) / 100.0)


class TrafficStream:
    """One stream workload. ``files_per_s`` sizes the timed backlog so a
    pass lasts about ``seconds`` on a 4-core host; the batch count, not
    the clock, ends a pass, so every run has the same samples."""

    def __init__(
        self,
        mode: str,
        records_per_file: int,
        files_per_s: float,
        warmup_files: int,
    ):
        self.mode = mode
        self.records_per_file = records_per_file
        self.files_per_s = files_per_s
        self.warmup_files = warmup_files

    # -- inputs ------------------------------------------------------------

    def _write(self, directory: str, seed: int, n_files: int):
        if self.mode == "parity":
            return inputs.write_trickle_files(
                directory, seed, n_files, self.records_per_file
            )
        return inputs.write_windowed_files(
            directory, seed, n_files, self.records_per_file
        )

    def prepare(self, work: str, seed: int, seconds: float, share: float) -> None:
        """Stage the timed backlog (``share`` of the full size)."""
        self.work = work
        self.n_files = max(
            int(MIN_FILES * share), int(round(seconds * self.files_per_s * share))
        )
        self.input_dir = os.path.join(work, "input")
        self.expected = self._write(self.input_dir, seed, self.n_files)
        self.warmup_dir = os.path.join(work, "warmup-input")
        self._write(self.warmup_dir, seed + 1_000_003, self.warmup_files)

    # -- running -----------------------------------------------------------

    def _start(self, spark, source_dir: str, tag: str, tracer: Tracer | None):
        from spark_stream_kudu_spark.streaming import traffic

        raw = (
            spark.readStream.schema(traffic.TRAFFIC_RAW_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .text(source_dir)
        )
        kwargs = {"mode": self.mode}
        if self.mode == "parity":
            kwargs["as_of_time_fn"] = "content"
        sink = os.path.join(self.work, tag, "sink")
        ckpt = os.path.join(self.work, tag, "checkpoint")
        with maybe_span(tracer, "traffic.run_traffic_pipeline"):
            return traffic.run_traffic_pipeline(raw, sink, ckpt, **kwargs), sink

    def warmup(self, spark) -> None:
        q, _ = self._start(spark, self.warmup_dir, "warmup", None)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"warm-up stream failed: {q.exception()}")

    def run_pass(self, spark, tag: str, tracer: Tracer | None = None) -> dict:
        """One closed-loop drain of the backlog. Output checks and the
        layer join run after the timed region."""
        first_job = next_job_id(spark) if tracer is not None else 0
        error = None
        t0 = time.perf_counter()
        q, sink = self._start(spark, self.input_dir, tag, tracer)
        try:
            q.awaitTermination(150)
            if q.isActive:
                q.stop()
                error = "stream did not drain its backlog within 150 s"
            elif q.exception() is not None:
                error = str(q.exception())
        except Exception as exc:  # noqa: BLE001 (counted as failed batches)
            error = str(exc)
        elapsed = time.perf_counter() - t0
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        if error is None and len(progress) != self.n_files:
            error = f"{len(progress)} batches with input for {self.n_files} files"
        result = {
            "latencies_ms": [float(p["durationMs"]["triggerExecution"]) for p in progress],
            # Batches that completed, plus the one that raised.
            "attempted": len(progress) + (1 if error else 0),
            "error": error,
            "elapsed_s": elapsed,
            "records": sum(p["numInputRows"] for p in progress),
            "progress": progress,
            "sink": sink,
        }
        if tracer is not None:
            result["jobs"] = jobs_since(spark, first_job)
        return result

    # -- output checks -----------------------------------------------------

    def check(self, spark, result: dict) -> list[str]:
        """Compare the final store with an independent recomputation.
        Returns one message per failed batch."""
        from spark_stream_kudu_spark.streaming.sinks import UpsertParquetSink

        if result["error"]:
            return [f"stream failed: {result['error']}"] * result["attempted"]
        df = UpsertParquetSink(result["sink"], key="as_of_time").read(spark)
        rows = [] if df is None else [r.asDict() for r in df.collect()]
        store = {r["as_of_time"]: r for r in rows}
        if self.mode == "parity":
            return self._check_parity(store)
        return self._check_windowed(store)

    def _check_parity(self, store: dict) -> list[str]:
        failures = []
        keys = set()
        for i, records in enumerate(self.expected):
            times = [t for t, _ in records]
            counts = [c for _, c in records]
            key = max(times)
            keys.add(key)
            want = {
                "min_num_veh": min(counts),
                "max_num_veh": max(counts),
                "first_meas_time": min(times),
                "last_meas_time": key,
            }
            got = store.get(key)
            if got is None:
                failures.append(f"batch {i}: no store row for as_of_time={key}")
                continue
            avg = _fround2(sum(counts) / len(counts))
            if any(got[k] != v for k, v in want.items()) or abs(
                got["avg_num_veh"] - avg
            ) > 0.01:
                failures.append(f"batch {i}: store row {got} != {want}, avg {avg}")
        extra = set(store) - keys
        if extra:
            failures.append(f"{len(extra)} store rows match no input file")
        return failures

    def _check_windowed(self, store: dict) -> list[str]:
        ts, counts = self.expected
        con = duckdb.connect()
        con.register("ev", pa.table({"t": ts, "c": counts}))
        want = con.execute(
            """
            WITH b AS (
              SELECT t // 5000 AS k, sum(c) AS s, count(*) AS n, min(c) AS mn,
                     max(c) AS mx, min(t) AS f, max(t) AS l
              FROM ev GROUP BY 1),
            w AS (SELECT DISTINCT k + i AS e FROM b, range(1, 13) r(i))
            SELECT w.e * 5000 AS as_of_time, sum(s) / sum(n) AS avg_num_veh,
                   min(mn) AS min_num_veh, max(mx) AS max_num_veh,
                   min(f) AS first_meas_time, max(l) AS last_meas_time
            FROM w JOIN b ON b.k BETWEEN w.e - 12 AND w.e - 1
            GROUP BY w.e
            """
        ).fetchall()
        con.close()
        bad_windows = []
        for key, avg, mn, mx, first, last in want:
            got = store.pop(key, None)
            if (
                got is None
                or (got["min_num_veh"], got["max_num_veh"]) != (mn, mx)
                or (got["first_meas_time"], got["last_meas_time"]) != (first, last)
                or abs(got["avg_num_veh"] - avg) > 0.01
            ):
                bad_windows.append(key)
        failures = [f"store row for window end {k} matches no window" for k in store]
        if bad_windows:
            # A wrong window fails every batch that carried its events.
            per_file = len(ts) // self.n_files
            for i in range(self.n_files):
                part = ts[i * per_file:(i + 1) * per_file]
                lo, hi = int(part.min()), int(part.max())
                hits = [e for e in bad_windows if e - 60_000 <= hi and e > lo]
                if hits:
                    failures.append(f"batch {i}: {len(hits)} wrong windows, e.g. {hits[0]}")
        return failures

    # -- layers (traced pass) ------------------------------------------------

    def traced_pass(self, spark, tag: str) -> tuple[dict, Tracer]:
        from spark_stream_kudu_spark.streaming import traffic
        from spark_stream_kudu_spark.streaming.sinks import UpsertParquetSink

        tracer = Tracer()
        with contextlib.ExitStack() as stack:
            stack.enter_context(mock.patch.object(
                traffic, "traffic_aggregate",
                tracer.wrap("traffic.traffic_aggregate", traffic.traffic_aggregate),
            ))
            stack.enter_context(mock.patch.multiple(UpsertParquetSink, **{
                m: tracer.wrap(f"sinks.{m}", getattr(UpsertParquetSink, m))
                for m in ("compute", "commit", "read")
            }))
            result = self.run_pass(spark, tag, tracer)
        return result, tracer

    def layers(self, result: dict, tracer: Tracer) -> dict[str, float]:
        """Per-layer numbers of one traced pass: progress phases joined
        with the recorded spans and the status-store jobs by time."""
        spans = [s for s in tracer.spans if s["end"] is not None]
        progress = result["progress"]
        batches = []
        for p in progress:
            start = _progress_start(p)
            d = p["durationMs"]
            end = start + d["triggerExecution"] / 1000.0
            inside = [s for s in spans if start <= s["start"] < end]
            for s in inside:
                s["op"] = p["batchId"]
            top = [s for s in inside if s["parent"] is None]
            batches.append({
                "d": d,
                "jobs": sum(1 for j in result["jobs"] if start <= j["start"] < end),
                "py_ms": interval_union_ms((s["start"], s["end"]) for s in top),
                "state": (p.get("stateOperators") or [{}])[0],
            })

        def per_batch(fn) -> float:
            return median([fn(b) for b in batches])

        def residue(b) -> float:
            return b["d"]["triggerExecution"] - sum(b["d"].get(k, 0) for k in PHASES)

        out = {f"trigger.{k}_ms": per_batch(lambda b, k=k: b["d"].get(k, 0)) for k in PHASES}
        out["trigger.triggerExecution_ms"] = per_batch(lambda b: b["d"]["triggerExecution"])
        out["trigger.floor_ms"] = per_batch(
            lambda b: b["d"]["triggerExecution"] - b["d"].get("addBatch", 0)
        )
        out["trigger.addBatch_self_ms"] = per_batch(
            lambda b: b["d"].get("addBatch", 0) - b["py_ms"]
        )
        out["trigger.jobs_per_batch"] = (
            sum(b["jobs"] for b in batches) / len(batches) if batches else 0.0
        )
        out["trigger.residue_ms"] = per_batch(residue)
        out["trigger.unaccounted_batches"] = float(sum(
            1 for b in batches
            if abs(residue(b)) > max(RESIDUE_TOL_MS, RESIDUE_TOL_SHARE * b["d"]["triggerExecution"])
        ))

        def span_ms(name: str) -> list[float]:
            return [(s["end"] - s["start"]) * 1000.0 for s in spans if s["name"] == name]

        computes = [s for s in spans if s["name"] == "sinks.compute"]
        out["traffic.run_traffic_pipeline_ms"] = median(span_ms("traffic.run_traffic_pipeline"))
        out["traffic.traffic_aggregate_ms"] = median(span_ms("traffic.traffic_aggregate"))
        out["sinks.compute_ms"] = median(span_ms("sinks.compute"))
        out["sinks.commit_ms"] = median(span_ms("sinks.commit"))
        out["sinks.read_ms"] = median(span_ms("sinks.read"))
        out["sinks.compute_calls"] = float(len(computes))
        out["sinks.staged_ratio"] = (
            sum(1 for s in computes if s.get("result")) / len(computes) if computes else 0.0
        )

        def state(key: str, scale: float = 1.0) -> float:
            return per_batch(lambda b: b["state"].get(key, 0) * scale)

        out["state.commit_ms"] = state("commitTimeMs")
        out["state.rows_total"] = state("numRowsTotal")
        out["state.rows_updated"] = state("numRowsUpdated")
        out["state.memory_mb"] = state("memoryUsedBytes", 1.0 / 2**20)
        out["stream.batches"] = float(len(batches))
        out["stream.records_per_s"] = result["records"] / result["elapsed_s"]
        return out


TRICKLE = dict(mode="parity", records_per_file=200, files_per_s=3.0, warmup_files=16)
WINDOWED = dict(mode="event_time", records_per_file=100_000, files_per_s=1.5,
                warmup_files=4)
