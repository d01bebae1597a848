"""Stateful streaming event-transition mining — the streaming lift of
``q71_event_transitions``.

The batch operator lags each user's event sequence by one to count
first-order Markov transitions. The lag carry is one value of keyed
state (the user's most recent event type), so the operator lifts to
``applyInPandasWithState``: per user, each arriving row emits the
``(state, event_type)`` pair then replaces the state. State is
O(|users|) single strings — independent of stream age.

Determinism contract: the replay stages events as time-ordered weekly
micro-batches (``stage_time_split_batches``) and the operator sorts
each batch's rows by (ts, event_id) before pairing, so every row pairs
with exactly the predecessor the batch lag() would give it. Transitions
SPAN batch boundaries (a user's last week-1 event pairs with their
first week-2 event), so a run that dropped state between batches would
miss those pairs and fail the oracle — the cross-batch continuity is
what the check pins. The final read-back aggregates the emitted pairs
to the same (prev, next, n) matrix as the batch query, checked by the
identical DuckDB oracle.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_stream_kudu_spark.operators.analytics import _TRANSITIONS_ORACLE
from spark_stream_kudu_spark.registry import register
from spark_stream_kudu_spark.session import tune_session
from spark_stream_kudu_spark.sources.tables import load_table
from spark_stream_kudu_spark.streaming.workdir import (
    new_run_dir,
    replay_stream,
    run_stream,
    stage_one_slice,
    stage_time_split_batches,
    time_slice,
)

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("prev_type", T.StringType()),
        T.StructField("next_type", T.StringType()),
    ]
)

_STATE_SCHEMA = T.StructType([T.StructField("last_type", T.StringType())])


def transitions_stateful(events: DataFrame) -> DataFrame:
    """Emit (prev_type, next_type) pairs from a *streaming* events
    DataFrame (``ts``, ``event_id``, ``user_id``, ``event_type``),
    carrying each user's last event type as keyed state across batches.

    Requires time-ordered micro-batches per key (feed through a
    time-split replay, as the e2e query does).
    """
    import pandas as pd

    def fn(
        key: tuple[Any, ...], pdfs: Iterator["pd.DataFrame"], state
    ) -> Iterator["pd.DataFrame"]:
        last = state.get[0] if state.exists else None
        chunks = [pdf for pdf in pdfs if not pdf.empty]
        if not chunks:
            if state.exists:
                state.update((last,))
            return
        batch = pd.concat(chunks).sort_values(["ts", "event_id"])
        prevs: list[str] = []
        nexts: list[str] = []
        for et in batch["event_type"]:
            if last is not None:
                prevs.append(last)
                nexts.append(et)
            last = et
        state.update((last,))
        if prevs:
            yield pd.DataFrame({"prev_type": prevs, "next_type": nexts})

    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@register(
    "stream_transitions_e2e",
    "streaming",
    "END-TO-END stateful streaming Markov transition mining: events "
    "replayed as time-ordered weekly micro-batches through an "
    "applyInPandasWithState operator that carries each user's last event "
    "type as keyed state (O(|users|) strings regardless of stream age) and "
    "emits (prev, next) pairs in append mode. Pairs span batch boundaries "
    "— dropped state would lose every cross-week transition and diverge "
    "from the oracle, which is the batch q71 lag() SQL. Read-back "
    "aggregates pairs to the transition matrix.",
    oracle=_TRANSITIONS_ORACLE,
)
def stream_transitions_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "ts", "event_id", "user_id", "event_type"
    )
    base = new_run_dir("trn")
    src = stage_time_split_batches(
        ev, base, ["2024-01-08", "2024-01-15", "2024-01-22"]
    )

    pairs = transitions_stateful(replay_stream(spark, ev.schema, src))
    out = run_stream(pairs, base)
    return (
        spark.read.parquet(out)
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "stream_transitions_restart_e2e",
    "streaming",
    "STATE-STORE RECOVERY, value-checked: the transition miner runs to "
    "completion on weeks 1-2, the StreamingQuery is STOPPED (process "
    "keeps no state), then a NEW query restarts from the same "
    "checkpoint and processes weeks 3-4. Every user's last pre-stop "
    "event must pair with their first post-restart event — those pairs "
    "exist only if applyInPandasWithState reloaded its keyed state from "
    "the checkpoint's state store, which is the production "
    "failure-recovery contract. Final table equals the batch q71 "
    "oracle, same as the uninterrupted run.",
    oracle=_TRANSITIONS_ORACLE,
)
def stream_transitions_restart_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "ts", "event_id", "user_id", "event_type"
    )
    base = new_run_dir("trnr")
    src = os.path.join(base, "src")

    bounds = ["2024-01-08", "2024-01-15", "2024-01-22", None]

    def stage(k: int) -> None:
        lo = bounds[k - 1] if k > 0 else None
        stage_one_slice(time_slice(ev, lo, bounds[k]), base, k)

    def run_once() -> str:
        pairs = transitions_stateful(replay_stream(spark, ev.schema, src))
        return run_stream(pairs, base)

    stage(0)
    stage(1)
    run_once()  # weeks 1-2, then the query STOPS
    stage(2)
    stage(3)
    out = run_once()  # NEW query, same checkpoint: state must be reloaded
    return (
        spark.read.parquet(out)
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
