"""Stateful streaming sequential-pattern detection — the streaming lift
of ``q94_cep_pattern`` (view -> purchase within 1h, no signup between).

The batch operator carries the latest view/signup timestamps down each
user's ordered event sequence; that carry is exactly two longs of keyed
state, so the operator lifts to ``applyInPandasWithState``: per user,
each arriving row first evaluates the pattern against the carried
state (purchases emit if the last view is inside the horizon and no
signup strictly follows it — the q94 ls <= lv rule, with all of an
instant's events folded in first to mirror the RANGE-frame
visibility), then updates the state. State is O(|users|) x
two longs — independent of stream age — and patterns SPAN micro-batch
boundaries (a week-1 view can qualify a week-2 purchase), which is the
continuity the oracle check pins: a run that dropped state between
batches would miss every cross-batch match.

Determinism: the replay stages time-ordered weekly micro-batches and
rows sort by (ts, event_id) inside each batch — the same total order
the batch window uses.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_stream_kudu_spark.operators.analytics import (
    _CEP_HORIZON_MS,
    _CEP_ORACLE,
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
        T.StructField("purchase_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("purchase_ms", T.LongType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_view_ms", T.LongType()),
        T.StructField("last_signup_ms", T.LongType()),
    ]
)


def cep_stateful(events: DataFrame) -> DataFrame:
    """Emit qualifying purchases from a *streaming* events DataFrame
    (``ts``, ``event_id``, ``user_id``, ``event_type``), carrying each
    user's latest view/signup epoch-ms as keyed state across batches."""
    import pandas as pd

    def fn(
        key: tuple[Any, ...], pdfs: Iterator["pd.DataFrame"], state
    ) -> Iterator["pd.DataFrame"]:
        lv, ls = (state.get if state.exists else (None, None))
        chunks = [pdf for pdf in pdfs if not pdf.empty]
        if not chunks:
            if state.exists:
                state.update((lv, ls))
            return
        batch = pd.concat(chunks).sort_values(["ts", "event_id"])
        out_ids: list[int] = []
        out_ms: list[int] = []
        # Millisecond groups: fold ALL of an instant's views/signups
        # into the carried state before evaluating that instant's
        # purchases — the q94 RANGE-frame visibility (v.ts <= p.ts,
        # s.ts <= p.ts), independent of event_id order. The weekly
        # time-split replay keeps an instant inside one micro-batch,
        # so the grouping never straddles a batch boundary.
        batch = batch.assign(_t_ms=batch["ts"].astype("int64") // 1_000_000)
        for t_ms, grp in batch.groupby("_t_ms", sort=True):
            t_ms = int(t_ms)
            if (grp["event_type"] == "view").any():
                lv = t_ms
            if (grp["event_type"] == "signup").any():
                ls = t_ms
            if (
                lv is not None
                and lv >= t_ms - _CEP_HORIZON_MS
                and (ls is None or ls <= lv)
            ):
                for eid in grp.loc[
                    grp["event_type"] == "purchase", "event_id"
                ]:
                    out_ids.append(int(eid))
                    out_ms.append(t_ms)
        state.update((lv, ls))
        if out_ids:
            yield pd.DataFrame(
                {
                    "purchase_id": out_ids,
                    "user_id": [key[0]] * len(out_ids),
                    "purchase_ms": out_ms,
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
    "stream_cep_e2e",
    "streaming",
    "END-TO-END stateful streaming pattern detection (CEP): the q94 "
    "view->purchase-without-signup pattern evaluated on a live replay "
    "via applyInPandasWithState — each user's latest view/signup "
    "timestamps are TWO LONGS of keyed state (O(|users|), independent "
    "of stream age), and matches span micro-batch boundaries, which the "
    "oracle (the batch q94 SQL) pins: dropping state between batches "
    "would lose every cross-week match. At 100 TB/day this is the shape "
    "CEP runs in production — per-key state carry, never a join against "
    "the event history.",
    oracle=_CEP_ORACLE,
)
def stream_cep_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "ts", "event_id", "user_id", "event_type"
    )
    base = new_run_dir("cep")
    src = stage_time_split_batches(
        ev, base, ["2024-01-08", "2024-01-15", "2024-01-22"]
    )

    matches = cep_stateful(replay_stream(spark, ev.schema, src))
    out = run_stream(matches, base)
    return spark.read.parquet(out).select("purchase_id", "user_id", "purchase_ms")


# --------------------------------------------------------------------------
# Streaming quota enforcement — the streaming lift of pipeline_rate_limit
# --------------------------------------------------------------------------

_QUOTA_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("ts_ms", T.LongType()),
    ]
)

# State: the hour bucket the counter belongs to + events admitted in it.
_QUOTA_STATE_SCHEMA = T.StructType(
    [
        T.StructField("hour_ms", T.LongType()),
        T.StructField("admitted", T.LongType()),
    ]
)


def quota_stateful(events: DataFrame, limit: int) -> DataFrame:
    """Admit at most ``limit`` events per (event_type, hour) from a
    *streaming* events DataFrame, carrying one (hour, count) pair of
    keyed state per event type across batches. Requires time-ordered
    micro-batches (feed through a time-split replay)."""
    import pandas as pd

    def fn(key, pdfs, state):
        hour_ms, admitted = (state.get if state.exists else (None, 0))
        chunks = [pdf for pdf in pdfs if not pdf.empty]
        if not chunks:
            if state.exists:
                state.update((hour_ms, admitted))
            return
        batch = pd.concat(chunks).sort_values(["ts", "event_id"])
        out = {"user_id": [], "event_id": [], "event_type": [], "ts_ms": []}
        for uid, eid, ts in zip(batch["user_id"], batch["event_id"], batch["ts"]):
            t_ms = int(ts.value // 1_000_000)
            h = t_ms - t_ms % 3_600_000
            if h != hour_ms:
                hour_ms, admitted = h, 0
            if admitted < limit:
                admitted += 1
                out["user_id"].append(int(uid))
                out["event_id"].append(int(eid))
                out["event_type"].append(key[0])
                out["ts_ms"].append(t_ms)
        state.update((hour_ms, admitted))
        if out["event_id"]:
            yield pd.DataFrame(out)

    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("event_type").applyInPandasWithState(
        fn,
        outputStructType=_QUOTA_OUT_SCHEMA,
        stateStructType=_QUOTA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _quota_oracle() -> str:
    from spark_stream_kudu_spark.operators.pipeline import _RATE_LIMIT_ORACLE

    return _RATE_LIMIT_ORACLE


@register(
    "stream_rate_limit_e2e",
    "streaming",
    "END-TO-END streaming quota enforcement: at most 3 events per "
    "(event type, hour) admitted from a live replay — one (hour, count) "
    "pair of keyed state per event type in applyInPandasWithState, "
    "reset when the hour rolls over, decisions spanning micro-batch "
    "boundaries (a batch split mid-hour must NOT reset the counter, "
    "which the batch-SQL oracle pins). The ingestion-throttling / "
    "anti-dominance cap running where it belongs: at the stream, before "
    "storage is spent.",
    oracle=_quota_oracle(),
)
def stream_rate_limit_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_stream_kudu_spark.operators.pipeline import _RATE_LIMIT_N

    tune_session(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "ts", "event_id", "user_id", "event_type"
    )
    base = new_run_dir("quo")
    src = stage_time_split_batches(
        ev, base, ["2024-01-08", "2024-01-15", "2024-01-22"]
    )

    admitted = quota_stateful(replay_stream(spark, ev.schema, src), _RATE_LIMIT_N)
    out = run_stream(admitted, base)
    return spark.read.parquet(out).select("user_id", "event_id", "event_type", "ts_ms")
