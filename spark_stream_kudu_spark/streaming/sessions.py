"""Event-time state TTL — gap sessionization via
``GroupStateTimeout.EventTimeTimeout``.

Every other stateful operator here uses ``NoTimeout`` (their state is
O(|keys|) scalars, safe to keep forever). Sessionization is the op that
NEEDS expiry: a session is closed not by a later event but by the
ABSENCE of one, so something must fire when the event-time watermark
passes ``last_event + gap`` — exactly what ``setTimeoutTimestamp`` +
``state.hasTimedOut`` provide. This module exercises that surface for
real and value-checks it against the batch q52 lag()-based sessionizer.

Determinism contract: the replay is time-ordered weekly batches with a
0-second watermark, so the global watermark after each batch is that
batch's max event time; a user idle longer than the gap times out in
the next batch — the same boundary the batch lag() draws. Two
far-future SENTINEL batches (a synthetic user filtered from the result)
flush the tail: the first advances the watermark past every real
timeout, the second gives the engine a batch in which to fire them
(timeouts are evaluated against the PREVIOUS batch's watermark).

The per-user session counter survives closure (state keeps the index
with no open session and no pending timeout), so a user who returns
after an idle period continues at session_idx + 1 — dropping state on
timeout would silently restart their numbering and break parity.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_stream_kudu_spark.operators.temporal import (
    SESSION_GAP_MS,
    _SESSIONIZE_ORACLE,
)
from spark_stream_kudu_spark.registry import register
from spark_stream_kudu_spark.session import tune_session
from spark_stream_kudu_spark.sources.tables import load_table
from spark_stream_kudu_spark.streaming.workdir import (
    new_run_dir,
    replay_stream,
    run_stream,
    stage_one_slice,
    time_slice,
)

_SENTINEL_USER = -1

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_idx", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("start_ms", T.LongType()),
        T.StructField("end_ms", T.LongType()),
    ]
)

# (next session index, open-session fields; start_ms NULL = no open session)
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("session_idx", T.LongType()),
        T.StructField("start_ms", T.LongType()),
        T.StructField("last_ms", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)


def sessions_stateful(events: DataFrame) -> DataFrame:
    """Emit one row per CLOSED session from a *streaming* events frame
    (``user_id``, ``event_id``, ``t_ms``, plus the watermarked ``ts``).
    Sessions close on an in-batch gap, or on event-time timeout when
    the watermark passes ``last_ms + gap``."""
    import pandas as pd

    def fn(
        key: tuple[Any, ...], pdfs: Iterator["pd.DataFrame"], state
    ) -> Iterator["pd.DataFrame"]:
        (user_id,) = key
        if state.exists:
            idx, start, last, n = state.get
        else:
            idx, start, last, n = 0, None, None, None
        out: list[tuple[int, int, int, int, int]] = []

        if state.hasTimedOut:
            # watermark passed last_ms + gap with no new events: close.
            if start is not None:
                out.append((user_id, idx, n, start, last))
            state.update((idx, None, None, None))
            # no open session -> no new timeout registered
            if out:
                yield pd.DataFrame(
                    out,
                    columns=[
                        "user_id", "session_idx", "n_events",
                        "start_ms", "end_ms",
                    ],
                )
            return

        chunks = [pdf for pdf in pdfs if not pdf.empty]
        batch = pd.concat(chunks).sort_values(["t_ms", "event_id"])
        for t in batch["t_ms"]:
            t = int(t)
            if start is None:
                idx, start, last, n = idx + 1, t, t, 1
            elif t - last > SESSION_GAP_MS:
                out.append((user_id, idx, n, start, last))
                idx, start, last, n = idx + 1, t, t, 1
            else:
                last, n = t, n + 1
        state.update((idx, start, last, n))
        if start is not None:
            state.setTimeoutTimestamp(last + SESSION_GAP_MS + 1)
        if out:
            yield pd.DataFrame(
                out,
                columns=[
                    "user_id", "session_idx", "n_events",
                    "start_ms", "end_ms",
                ],
            )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


@register(
    "stream_session_ttl_e2e",
    "streaming",
    "END-TO-END event-time STATE TTL: gap sessionization where closure "
    "is driven by setTimeoutTimestamp + state.hasTimedOut — the absence "
    "of events, detected when the watermark passes last_event + 30min, "
    "closes the session (NoTimeout operators can't express this). "
    "Time-ordered weekly replay + two far-future sentinel batches (a "
    "filtered synthetic user) flush the tail; the per-user session "
    "counter survives closure so returning users keep their numbering. "
    "Read-back equals the batch q52 lag() sessionizer row-for-row via "
    "the identical oracle.",
    oracle=_SESSIONIZE_ORACLE,
)
def stream_session_ttl_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "ts", "event_id", "user_id"
    )
    base = new_run_dir("sttl")
    bounds = [None, "2024-01-08", "2024-01-15", "2024-01-22", None]
    for k in range(4):
        src = stage_one_slice(
            time_slice(ev, bounds[k], bounds[k + 1]), base, k
        )
    # Sentinel batches: one synthetic far-future event each. The first
    # advances the watermark past every real timeout timestamp; the
    # second is the batch in which those timers actually fire.
    for j, far_ts in enumerate(["2030-01-01 00:00:00", "2030-01-02 00:00:00"]):
        sent = spark.createDataFrame(
            [(far_ts, -(j + 1), _SENTINEL_USER)],
            "ts string, event_id long, user_id long",
        ).select(F.col("ts").cast("timestamp"), "event_id", "user_id")
        src = stage_one_slice(sent, base, 4 + j)

    stream = (
        replay_stream(spark, ev.schema, src)
        .withWatermark("ts", "0 seconds")
        .select(
            "ts",
            "event_id",
            "user_id",
            F.unix_millis("ts").alias("t_ms"),
        )
    )
    closed = sessions_stateful(stream)
    out = run_stream(closed, base)
    return (
        spark.read.parquet(out)
        .filter(F.col("user_id") != _SENTINEL_USER)
        .select(
            "user_id",
            "session_idx",
            "n_events",
            "start_ms",
            "end_ms",
            (F.col("end_ms") - F.col("start_ms")).alias("duration_ms"),
        )
    )
