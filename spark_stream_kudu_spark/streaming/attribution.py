"""Stateful streaming last-touch attribution — the streaming lift of
``q115_attribution``.

The batch operator carries max(struct(t_ms, event_id, touch)) down each
user's RANGE-framed window; the carried value is one keyed struct, so
the operator lifts to ``applyInPandasWithState``: per user the state is
the best (latest (t_ms, event_id)) non-purchase touch seen so far, each
purchase emits its credited channel, and the state survives micro-batch
boundaries (a week-2 purchase minutes after a week-1 touch still
credits it — the property a stateless per-batch window would lose).

Tie semantics match the batch/oracle RANGE frame exactly: rows are
processed in timestamp GROUPS — all touches at one instant update the
state (max event_id winning, the oracle's ``ORDER BY t_ms DESC,
event_id DESC`` pick) before any purchase at that instant is credited,
so a same-millisecond touch-then-purchase credits the touch regardless
of event_id order, exactly like the oracle's ``t.t_ms <= p.t_ms``.
State is O(|users|) single structs regardless of stream age.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_stream_kudu_spark.operators.analytics import (
    _ATTR_ORACLE,
    _CEP_HORIZON_MS,
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
        T.StructField("touch_type", T.StringType()),
        T.StructField("v", T.LongType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("t_ms", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("touch", T.StringType()),
    ]
)


def attribution_stateful(events: DataFrame) -> DataFrame:
    """Emit one (touch_type, v) row per purchase from a *streaming*
    events DataFrame (``t_ms``, ``event_id``, ``user_id``,
    ``event_type``, ``v``), carrying each user's best touch as keyed
    state. Requires time-ordered micro-batches per key."""
    import pandas as pd

    def fn(
        key: tuple[Any, ...], pdfs: Iterator["pd.DataFrame"], state
    ) -> Iterator["pd.DataFrame"]:
        last = tuple(state.get) if state.exists else None
        chunks = [pdf for pdf in pdfs if not pdf.empty]
        if not chunks:
            if last is not None:
                state.update(last)
            return
        batch = pd.concat(chunks).sort_values(["t_ms", "event_id"])
        touts: list[str] = []
        vals: list[int] = []
        for t_ms, grp in batch.groupby("t_ms", sort=True):
            touches = grp[grp["event_type"] != "purchase"]
            if len(touches):
                top = touches.iloc[touches["event_id"].to_numpy().argmax()]
                cand = (int(t_ms), int(top["event_id"]), str(top["event_type"]))
                if last is None or cand[:2] > last[:2]:
                    last = cand
            for _, p in grp[grp["event_type"] == "purchase"].iterrows():
                if last is not None and last[0] >= int(t_ms) - _CEP_HORIZON_MS:
                    touts.append(last[2])
                else:
                    touts.append("organic")
                vals.append(int(p["v"]))
        if last is not None:
            state.update(last)
        if touts:
            yield pd.DataFrame({"touch_type": touts, "v": vals})

    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@register(
    "stream_attribution_e2e",
    "streaming",
    "END-TO-END stateful streaming last-touch attribution: events "
    "replayed as time-ordered weekly micro-batches; per user the best "
    "(latest t_ms, event_id) non-purchase touch is the keyed state, each "
    "purchase emits its credited channel + 1e4-scaled revenue in append "
    "mode, and credits SPAN batch boundaries (a purchase crediting the "
    "previous week's touch is exactly what dropped state would miss). "
    "Same-instant ties follow the oracle's RANGE semantics: all touches "
    "at a timestamp apply before its purchases. Read-back rolls credits "
    "up to the q115 channel table, checked by the identical oracle.",
    oracle=_ATTR_ORACLE,
)
def stream_attribution_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "ts",
        F.col("event_id").cast("long").alias("event_id"),
        "user_id",
        "event_type",
        F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long").alias("v"),
    )
    base = new_run_dir("attr")
    src = stage_time_split_batches(
        ev, base, ["2024-01-08", "2024-01-15", "2024-01-22"]
    )

    stream = (
        replay_stream(spark, ev.schema, src)
        .select(
            F.unix_millis("ts").alias("t_ms"),
            "event_id",
            "user_id",
            "event_type",
            "v",
        )
    )
    credits = attribution_stateful(stream)
    out = run_stream(credits, base)
    return (
        spark.read.parquet(out)
        .groupBy("touch_type")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("v").alias("revenue_e4"),
        )
    )
