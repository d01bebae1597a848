"""Stateful streaming SCD2 maintenance — the streaming lift of
``q68_scd2_history`` (change capture).

The batch operator derives type-2 dimension intervals from a change
log with lag/lead windows. The streaming form is the natural CDC
consumer: per key, state is the OPEN interval (current state value +
its valid_from); each arriving change that differs from the current
state CLOSES the open interval (emit [valid_from, valid_to=change ts))
and opens a new one. Append-mode output is therefore exactly the
*closed history* — the open row is the state store's content (in a
production pipeline it is emitted on state timeout or served from the
current-snapshot table the upsert sink maintains; cf.
streaming/sinks.py::merge_by_key, the reference's Kudu upsert
semantics, kafka_to_kudu.py:40-53).

Oracle: the batch q68 SQL restricted to closed intervals
(``lead(ts) IS NOT NULL``). Intervals SPAN micro-batch boundaries —
a state change whose open and close fall in different replay weeks is
only correct if the open interval survived the batch boundary in the
state store, which is what the check pins.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from spark_stream_kudu_spark.registry import register
from spark_stream_kudu_spark.session import tune_session
from spark_stream_kudu_spark.sources.tables import load_table
from spark_stream_kudu_spark.streaming.workdir import (
    new_run_dir,
    replay_stream,
    run_stream,
    stage_time_split_batches,
)

_CLOSED_SCD2_ORACLE = """
WITH ch AS (
  SELECT user_id, event_id, ts, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
),
kept AS (
  SELECT user_id, event_id, ts, event_type
  FROM ch WHERE prev_type IS NULL OR prev_type <> event_type
)
SELECT * FROM (
  SELECT user_id, event_type AS state,
         epoch_ms(ts) AS valid_from_ms,
         epoch_ms(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS valid_to_ms
  FROM kept
) WHERE valid_to_ms IS NOT NULL
"""

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("state", T.StringType()),
        T.StructField("valid_from_ms", T.LongType()),
        T.StructField("valid_to_ms", T.LongType()),
    ]
)

# Open interval: current state value + its valid_from epoch-millis.
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("cur_state", T.StringType()),
        T.StructField("cur_from_ms", T.LongType()),
    ]
)


def scd2_stateful(events: DataFrame) -> DataFrame:
    """Maintain SCD2 history from a *streaming* change log (``ts``,
    ``event_id``, ``user_id``, ``event_type``): emits closed intervals,
    keeps the open interval as keyed state. Requires time-ordered
    micro-batches per key (feed through a time-split replay)."""
    import pandas as pd

    def fn(
        key: tuple[Any, ...], pdfs: Iterator["pd.DataFrame"], state
    ) -> Iterator["pd.DataFrame"]:
        cur_state, cur_from = (
            (state.get[0], state.get[1]) if state.exists else (None, None)
        )
        chunks = [pdf for pdf in pdfs if not pdf.empty]
        if not chunks:
            if state.exists:
                state.update((cur_state, cur_from))
            return
        batch = pd.concat(chunks).sort_values(["ts", "event_id"])
        out: list[tuple[str, int, int]] = []
        for ts, et in zip(batch["ts"], batch["event_type"]):
            ms = int(ts.value // 1_000_000)  # ns -> epoch millis
            if cur_state is None:
                cur_state, cur_from = et, ms
            elif et != cur_state:
                out.append((cur_state, cur_from, ms))
                cur_state, cur_from = et, ms
        state.update((cur_state, cur_from))
        if out:
            yield pd.DataFrame(
                {
                    "user_id": key[0],
                    "state": [o[0] for o in out],
                    "valid_from_ms": [o[1] for o in out],
                    "valid_to_ms": [o[2] for o in out],
                }
            )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@register(
    "stream_scd2_e2e",
    "streaming",
    "END-TO-END stateful streaming SCD2 maintenance (CDC consumer): events "
    "replayed as time-ordered weekly micro-batches; per user the OPEN "
    "interval (current state + valid_from) is keyed state, and each state "
    "change emits the closed [valid_from, valid_to) row in append mode. "
    "Oracle = the batch q68 window SQL restricted to closed intervals; "
    "intervals spanning replay weeks pin open-interval survival across "
    "batch boundaries. State is O(|keys|) fixed-width rows regardless of "
    "stream age.",
    oracle=_CLOSED_SCD2_ORACLE,
)
def stream_scd2_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "ts", "event_id", "user_id", "event_type"
    )
    base = new_run_dir("scd")
    src = stage_time_split_batches(
        ev, base, ["2024-01-08", "2024-01-15", "2024-01-22"]
    )

    closed = scd2_stateful(replay_stream(spark, ev.schema, src))
    out = run_stream(closed, base)
    return spark.read.parquet(out)
