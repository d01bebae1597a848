"""The ``query_mix`` workload: batch queries from the engine's registry,
run closed loop by one client, each written to the ``noop`` sink (plan
build plus one full execution, as the repo's ``bench.py`` times them).

The queries are non-stream members of the frozen bench suites, across
the relational, keyed-merge, dedup/text and similarity families. The
input tables are generated from the seed.
"""

from __future__ import annotations

import os
import time

import inputs
from spans import (
    Tracer,
    interval_union_ms,
    jobs_since,
    maybe_span,
    median,
    next_job_id,
    register_plan_listener,
)

# name -> family
QUERIES: dict[str, str] = {
    "q01_pricing_summary": "relational",
    "q03_topk_revenue": "relational",
    "q69_merge_upsert": "keyed_merge",
    "pipeline_cdc_apply": "keyed_merge",
    "dedup_minhash_pairs": "dedup_text",
    "text_tfidf": "dedup_text",
    "sim_topk_bruteforce": "similarity",
    "sim_topk_rplsh": "similarity",
    "sim_topk_ivf_trained": "similarity",
    "emb_knn_classify": "similarity",
}
FAMILIES = ("relational", "keyed_merge", "dedup_text", "similarity")
# Scale factor of the generated tables (lineitem has 6e6 * SF rows).
SF = 0.01
# A timed pass runs whole rounds over the mix, so every query is
# sampled equally often: this many per second of ``--seconds``, at
# least MIN_ROUNDS. One round takes about 6 s on a 4-core host.
ROUNDS_PER_S = 0.25
MIN_ROUNDS = 2
# A query's measured parts (plan phases plus jobs) account for its
# execution time when they overrun it by no more than this.
ACCOUNT_TOL_MS = 5.0


class QueryMix:
    def prepare(self, work: str, seed: int, seconds: float, share: float) -> None:
        from spark_stream_kudu_spark.registry import load_all

        self.data_dir = os.path.join(work, "tables")
        inputs.write_tables(self.data_dir, seed, SF)
        registry = load_all()
        self.specs = {name: registry[name] for name in QUERIES}
        self.rounds = max(int(MIN_ROUNDS * share), round(seconds * ROUNDS_PER_S * share))
        self.check_failures: dict[str, str] = {}

    def warmup(self, spark) -> None:
        """One untimed round over the mix that also checks every
        query's output against its DuckDB oracle. The timed rounds run
        the same builders on the same tables."""
        from spark_stream_kudu_spark.plans.oracle import compare_query, duckdb_connection

        con = duckdb_connection(self.data_dir)
        try:
            for name, spec in self.specs.items():
                if spec.prepare is not None:
                    spec.prepare(spark, self.data_dir)
                res = compare_query(spark, spec, self.data_dir, con)
                if not res.ok:
                    self.check_failures[name] = f"{name}: {'; '.join(res.mismatches)}"
        finally:
            con.close()

    def run_pass(self, spark, tag: str, tracer: Tracer | None = None) -> dict:
        first_job = next_job_id(spark) if tracer is not None else 0
        runs: list[dict] = []
        t0 = time.perf_counter()
        for rnd in range(self.rounds):
            for name, spec in self.specs.items():
                run = {"name": name, "error": None}
                ts = time.perf_counter()
                tb = None
                try:
                    with maybe_span(tracer, "query", f"{rnd}:{name}") as sid:
                        with maybe_span(tracer, "query.build"):
                            df = spec.builder(spark, self.data_dir)
                        tb = time.perf_counter()
                        with maybe_span(tracer, "query.execute"):
                            df.write.format("noop").mode("overwrite").save()
                except Exception as exc:  # noqa: BLE001 (counted as a failed query)
                    run["error"] = str(exc)
                te = time.perf_counter()
                run["latency_ms"] = (te - ts) * 1000.0
                run["build_ms"] = ((tb or te) - ts) * 1000.0
                if tracer is not None:
                    run["plan_ms"] = self._await_plan(tracer.spans[sid]["start"])
                runs.append(run)
        result = {
            "latencies_ms": [r["latency_ms"] for r in runs],
            "attempted": len(runs),
            "elapsed_s": time.perf_counter() - t0,
            "runs": runs,
        }
        if tracer is not None:
            result["jobs"] = jobs_since(spark, first_job)
        return result

    def _await_plan(self, start: float) -> float:
        """Plan phases of the noop write of the query that started at
        ``start``, from the event the write posts to the listener
        (delivered asynchronously)."""
        deadline = time.time() + 5.0
        while time.time() < deadline:
            hits = [
                e for e in self._listener.events
                if e["func"] == "overwrite" and e["at"] >= start and "plan_ms" in e
            ]
            if hits:
                return hits[-1]["plan_ms"]
            time.sleep(0.002)
        return 0.0

    def check(self, spark, result: dict) -> list[str]:
        """Every execution of a query whose output failed its oracle
        check, or that raised, counts as failed."""
        failures = []
        for r in result["runs"]:
            if r["error"]:
                failures.append(f"{r['name']}: {r['error'][:200]}")
            elif r["name"] in self.check_failures:
                failures.append(self.check_failures[r["name"]])
        return failures

    def traced_pass(self, spark, tag: str) -> tuple[dict, Tracer]:
        tracer = Tracer()
        self._listener = register_plan_listener(spark)
        try:
            result = self.run_pass(spark, tag, tracer)
        finally:
            spark._jsparkSession.listenerManager().unregister(self._listener)
        return result, tracer

    def layers(self, result: dict, tracer: Tracer) -> dict[str, float]:
        """Split each query's wall time into plan build, Catalyst
        phases, time inside Spark jobs and the driver gap between."""
        spans = tracer.spans
        execs = {s["parent"]: s for s in spans if s["name"] == "query.execute"}
        queries = [s for s in spans if s["name"] == "query"]
        rows = []
        for q, run in zip(queries, result["runs"]):
            jobs = [j for j in result["jobs"] if q["start"] <= j["start"] < q["end"]]
            ex = execs.get(q["id"])
            exec_jobs = (
                [(j["start"], j["end"]) for j in jobs if ex["start"] <= j["start"] < ex["end"]]
                if ex else []
            )
            exec_ms = (ex["end"] - ex["start"]) * 1000.0 if ex else 0.0
            jobs_ms = interval_union_ms(exec_jobs)
            plan_ms = run.get("plan_ms", 0.0)
            rows.append({
                "name": run["name"],
                "family": QUERIES[run["name"]],
                "wall_ms": run["latency_ms"],
                "build_ms": run["build_ms"],
                "plan_ms": plan_ms,
                "jobs_ms": jobs_ms,
                "jobs": float(len(jobs)),
                "gap_ms": exec_ms - plan_ms - jobs_ms,
            })
        result["per_query"] = rows
        out: dict[str, float] = {}
        parts = ("build_ms", "plan_ms", "jobs_ms", "gap_ms", "jobs")
        for part in parts:
            out[f"query.{part}"] = median([r[part] for r in rows])
        for fam in FAMILIES:
            for part in parts:
                out[f"query.{fam}.{part}"] = median(
                    [r[part] for r in rows if r["family"] == fam]
                )
        out["query.unaccounted"] = float(
            sum(1 for r in rows if r["gap_ms"] < -ACCOUNT_TOL_MS)
        )
        return out
