"""Stateful streaming anomaly detection — the streaming lift of
``q72_zscore_anomaly``.

The batch operator scores each value against the trailing
``_Z_WINDOW``-observation mean/stddev of its event type (a bounded ROWS
frame ending at 1 PRECEDING). That frame is exactly a keyed ring
buffer, so the operator lifts to ``applyInPandasWithState``: per
event_type, state is the last ``_Z_WINDOW`` values; each arriving row
is scored against the buffer, then appended to it. State is
O(|keys| * window) — independent of stream age — and shards by the
grouping key across executors; a skewed key would salt by coarse time
bucket exactly as the batch docstring prescribes.

Determinism contract (what makes this oracle-checkable): the replay
stages events as time-ordered micro-batches (weekly files, mtime-ordered,
``maxFilesPerTrigger=1``) and the operator sorts each batch's rows by
(ts, event_id) before scoring, so every value is scored against
precisely the same predecessor set as the batch window — the final
table equals ``q72_zscore_anomaly`` value-for-value, which the same
DuckDB oracle checks. The anomaly window SPANS batch boundaries (an
early-week tail scores a later week's head), so a run that dropped
state between batches would fail the oracle — the cross-batch
continuity is what the check pins.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_stream_kudu_spark.operators.analytics import (
    _Z_MIN_PREV,
    _Z_THRESHOLD,
    _Z_WINDOW,
    _ZSCORE_ORACLE,
)
from spark_stream_kudu_spark.registry import register
from spark_stream_kudu_spark.session import tune_session
from spark_stream_kudu_spark.sources.tables import load_table
from spark_stream_kudu_spark.streaming.workdir import (
    new_run_dir,
    replay_stream,
    run_stream,
    stage_time_split_batches,
)

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("z", T.DoubleType()),
    ]
)

# Ring buffer of the trailing values, oldest first.
_STATE_SCHEMA = T.StructType(
    [T.StructField("window_vals", T.ArrayType(T.DoubleType()))]
)


def zscore_stateful(events: DataFrame) -> DataFrame:
    """Score a *streaming* events DataFrame (``ts``, ``event_id``,
    ``event_type``, ``value``) for rolling z-score anomalies.

    Requires time-ordered micro-batches per key (late rows would be
    scored against a window the batch semantics would not use — feed
    through a watermark + sort-within-batch replay, as the e2e query
    does).
    """
    import math

    import pandas as pd

    def fn(
        key: tuple[Any, ...], pdfs: Iterator["pd.DataFrame"], state
    ) -> Iterator["pd.DataFrame"]:
        buf: list[float] = (
            list(state.get[0]) if state.exists else []
        )
        chunks = [pdf for pdf in pdfs if not pdf.empty]
        if not chunks:
            if state.exists or buf:
                state.update((buf,))
            return
        batch = pd.concat(chunks).sort_values(["ts", "event_id"])
        out_id: list[int] = []
        out_val: list[float] = []
        out_z: list[float] = []
        for event_id, value in zip(batch["event_id"], batch["value"]):
            n_prev = len(buf)
            if n_prev >= _Z_MIN_PREV:
                mu = sum(buf) / n_prev
                var = sum((v - mu) ** 2 for v in buf) / (n_prev - 1)
                sd = math.sqrt(var)
                if sd > 1e-9:
                    z = (value - mu) / sd
                    if abs(z) > _Z_THRESHOLD:
                        out_id.append(int(event_id))
                        out_val.append(float(value))
                        out_z.append(
                            math.floor(z * 10000 + 0.5) / 10000
                        )
            buf.append(float(value))
            if len(buf) > _Z_WINDOW:
                del buf[0 : len(buf) - _Z_WINDOW]
        state.update((buf,))
        if out_id:
            yield pd.DataFrame(
                {
                    "event_id": out_id,
                    "event_type": key[0],
                    "value": out_val,
                    "z": out_z,
                }
            )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("event_type").applyInPandasWithState(
        fn,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@register(
    "stream_zscore_anomaly_e2e",
    "streaming",
    "END-TO-END stateful streaming anomaly detection: events replayed as "
    "time-ordered weekly micro-batches through an applyInPandasWithState "
    "ring buffer per event_type (trailing values as keyed state, "
    f"O(|keys| x {_Z_WINDOW}) bytes regardless of stream age). Each row is "
    "scored against the buffer then appended, so the trailing window spans "
    "batch boundaries — dropped state would diverge from the oracle, which "
    "is the batch q72 window SQL. The streaming twin proving the batch "
    "operator's bounded ROWS frame is genuinely stream-liftable.",
    oracle=_ZSCORE_ORACLE,
)
def stream_zscore_anomaly_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "ts", "event_id", "event_type", "value"
    )
    base = new_run_dir("zsc")
    # Weekly replay files, staged oldest-first (file-source batch order is
    # modification time) so per-key arrival order matches event time.
    src = stage_time_split_batches(
        ev, base, ["2024-01-08", "2024-01-15", "2024-01-22"]
    )

    scored = zscore_stateful(replay_stream(spark, ev.schema, src))
    out = run_stream(scored, base)
    return spark.read.parquet(out)


# --------------------------------------------------------------------------
# Streaming CUSUM — the q124 prefix identity as keyed (cum, min) state
# --------------------------------------------------------------------------

_CUSUM_OUT = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("day", T.DateType()),
        T.StructField("x_e4", T.LongType()),
        T.StructField("cusum_e4", T.LongType()),
    ]
)

_CUSUM_STATE = T.StructType(
    [
        T.StructField("cum", T.LongType()),
        T.StructField("min_cum", T.LongType()),
    ]
)


def cusum_stateful(rows: DataFrame, k_by_type: dict[str, int]) -> DataFrame:
    """Per event_type, carry (cumulative sum, running minimum) across
    micro-batches and emit the CUSUM statistic for each completed day.
    The micro-batch's raw rows are rolled up to daily totals INSIDE the
    keyed function (a streaming pre-aggregation would demand a
    watermark and delay emission; the weekly staging guarantees whole
    days per batch). ``k_by_type`` is the calibration constant
    (historical mean daily volume), broadcast as a plain dict — at
    scale a separate calibration table joined batch-side."""
    import pandas as pd

    def fn(key, pdfs, state):
        (etype,) = key
        k = k_by_type[etype]
        cum, mn = state.get if state.exists else (0, 0)
        chunks = [pdf for pdf in pdfs if not pdf.empty]
        if not chunks:
            if state.exists:
                state.update((cum, mn))
            return
        batch = pd.concat(chunks)
        daily = (
            batch.groupby("day", sort=True)["v_e4"].sum().astype("int64")
        )
        days, xs, stats = [], [], []
        for day, x in daily.items():
            cum += int(x) - k
            mn = min(mn, cum)
            days.append(day)
            xs.append(int(x))
            stats.append(cum - mn)
        state.update((cum, mn))
        yield pd.DataFrame(
            {
                "event_type": etype,
                "day": days,
                "x_e4": xs,
                "cusum_e4": stats,
            }
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return rows.groupBy("event_type").applyInPandasWithState(
        fn,
        outputStructType=_CUSUM_OUT,
        stateStructType=_CUSUM_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@register(
    "stream_cusum_e2e",
    "streaming",
    "END-TO-END streaming CUSUM drift monitor: weekly micro-batches "
    "aggregate to (event_type, day) partials (day boundaries align "
    "with the weekly splits, so a day never straddles batches), and a "
    "keyed (cum, min_cum) state — TWO longs per event_type, regardless "
    "of stream age — emits each day's statistic on arrival. The "
    "calibration constant k is each type's historical mean daily "
    "volume, computed batch-side and broadcast. Cross-batch state "
    "continuity is what the oracle (the batch q124 window identity) "
    "pins: dropping state between weeks would reset every cum/min "
    "and diverge.",
    oracle=__import__(
        "spark_stream_kudu_spark.operators.series", fromlist=["_CUSUM_ORACLE"]
    )._CUSUM_ORACLE,
)
def stream_cusum_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    ev = load_table(spark, sf_dir, "events").select("ts", "event_type", "value")
    # calibration: integer mean daily volume per type (historical pass)
    daily_all = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 10000).cast("long")).alias("x_e4"))
    k_by_type = {
        r["event_type"]: int(r["k_e4"])
        for r in daily_all.groupBy("event_type")
        .agg(F.expr("sum(x_e4) div count(*)").alias("k_e4"))
        .collect()
    }

    base = new_run_dir("cusum")
    src = stage_time_split_batches(
        ev, base, ["2024-01-08", "2024-01-15", "2024-01-22"]
    )
    stream = (
        replay_stream(spark, ev.schema, src)
        .select(
            "event_type",
            F.to_date("ts").alias("day"),
            F.round(F.col("value") * 10000).cast("long").alias("v_e4"),
        )
    )
    stats = cusum_stateful(stream, k_by_type)
    out = run_stream(stats, base)
    return spark.read.parquet(out)
