"""In-memory span recorder for the traced run, and the Spark-side
sources the spans are joined with.

Spans are recorded from the benchmark's own files only: the engine's
public functions are wrapped for the length of a traced pass and
restored afterwards. Each span holds a name, start and end (epoch
seconds), the id of the span that was open when it started, and an op
id (a micro-batch or a query). Spans stay in memory until the run
writes them out at the end.
"""

from __future__ import annotations

import contextlib
import functools
import statistics
import threading
import time
from collections.abc import Callable, Iterable


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, op=None) -> int:
        stack = self._stack()
        span = {
            "id": None,
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": stack[-1] if stack else None,
            "op": op,
        }
        with self._lock:
            span["id"] = len(self.spans)
            self.spans.append(span)
        stack.append(span["id"])
        return span["id"]

    def close(self, span_id: int, **attrs) -> None:
        span = self.spans[span_id]
        span["end"] = time.time()
        span.update(attrs)
        self._stack().pop()

    @contextlib.contextmanager
    def span(self, name: str, op=None):
        sid = self.open(name, op)
        try:
            yield sid
        finally:
            self.close(sid)

    def wrap(self, name: str, fn: Callable) -> Callable:
        """``fn`` wrapped in a span. A boolean result is kept on the
        span."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            sid = self.open(name)
            result = None
            try:
                result = fn(*args, **kwargs)
                return result
            finally:
                self.close(sid, result=result if isinstance(result, bool) else None)

        return wrapper


def interval_union_ms(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length in ms of the union of (start_s, end_s) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total * 1000.0


def self_times_ms(spans: list[dict]) -> dict[int, float]:
    """Self time of every closed span: its duration minus the part of
    it that its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) * 1000.0
        - interval_union_ms(children.get(s["id"], []))
        for s in spans
        if s["end"] is not None
    }


def jobs_since(spark, first_job_id: int) -> list[dict]:
    """Jobs with id >= ``first_job_id`` from the status store, which is
    populated with ``spark.ui.enabled=false`` too. Times are epoch
    seconds."""
    jobs = []
    it = spark.sparkContext._jsc.sc().statusStore().jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        if j.jobId() < first_job_id:
            continue
        sub, done = j.submissionTime(), j.completionTime()
        if sub.isEmpty() or done.isEmpty():
            continue
        jobs.append({
            "id": j.jobId(),
            "start": sub.get().getTime() / 1000.0,
            "end": done.get().getTime() / 1000.0,
        })
    return jobs


def next_job_id(spark) -> int:
    """Id the next Spark job will get (job ids are sequential)."""
    it = spark.sparkContext._jsc.sc().statusStore().jobsList(None).iterator()
    top = -1
    while it.hasNext():
        top = max(top, it.next().jobId())
    return top + 1


class PlanPhaseListener:
    """JVM ``QueryExecutionListener`` implemented in Python: records the
    analysis / optimization / planning phase times of every executed
    query (including the noop write of each timed query)."""

    def __init__(self) -> None:
        self.events: list[dict] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (JVM API)
        phases = {}
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            phases[kv._1()] = kv._2().endTimeMs() - kv._2().startTimeMs()
        self.events.append({
            "func": func_name,
            "at": time.time(),
            "plan_ms": float(sum(phases.values())),
            "phases": phases,
        })

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (JVM API)
        self.events.append({"func": func_name, "at": time.time(), "failed": True})

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def register_plan_listener(spark) -> PlanPhaseListener:
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)
    listener = PlanPhaseListener()
    spark._jsparkSession.listenerManager().register(listener)
    return listener


def maybe_span(tracer: Tracer | None, name: str, op=None):
    """A span of ``tracer``, or nothing on an untraced pass."""
    return tracer.span(name, op) if tracer is not None else contextlib.nullcontext()


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0
