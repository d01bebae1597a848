"""Round-2 end-to-end streaming queries, registered late.

These run REAL Structured Streaming queries (file-replayed sources,
availableNow trigger, parquet append sinks) whose final tables are
deterministic and therefore DuckDB-oracle-checkable:

- ``stream_interval_join_e2e`` — the stream-stream interval join
  (streaming/joins.py::interval_join) executed as a streaming query:
  purchases joined to views within a 1-hour trailing interval per user,
  watermark-bounded state on both sides.
- ``stream_watermark_dedup_e2e`` — Spark's native
  ``dropDuplicatesWithinWatermark`` (streaming/stateful.py::
  dedup_within_watermark) executed on a replay carrying injected
  re-deliveries; the final table recovers exactly the original rows.

- ``stream_rollup_incremental_e2e`` — an incrementally-maintained
  minute rollup: per-batch partial aggregates SUM-merged into a keyed
  store (sum-combine sink), the streaming continuous-aggregate
  pattern; the final table equals the one-shot batch rollup.

The join/dedup helpers previously had only pytest evidence; registering
the end-to-end runs gives the streaming family driver-side value checks.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_stream_kudu_spark.registry import register
from spark_stream_kudu_spark.session import tune_session
from spark_stream_kudu_spark.functions.lineage import pin as _pin
from spark_stream_kudu_spark.functions.rounding import idiv
from spark_stream_kudu_spark.sources.tables import load_table
from spark_stream_kudu_spark.streaming.joins import interval_join
from spark_stream_kudu_spark.streaming.stateful import dedup_within_watermark
from spark_stream_kudu_spark.streaming.workdir import (
    new_run_dir,
    replay_stream,
    run_stream,
    stage_mod_slices,
    stage_one_slice,
)



def _ev(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    return load_table(spark, sf_dir, "events")


_INTERVAL_JOIN_ORACLE = """
WITH p AS (
  SELECT user_id, event_id AS purchase_id, ts AS p_ts
  FROM events WHERE event_type = 'purchase'
),
v AS (
  SELECT user_id, event_id AS view_id, ts AS v_ts
  FROM events WHERE event_type = 'view'
)
SELECT p.purchase_id, p.user_id,
       epoch_ms(p.p_ts) AS purchase_ms,
       v.view_id,
       epoch_ms(v.v_ts) AS view_ms
FROM p JOIN v
  ON v.user_id = p.user_id
 AND v.v_ts >= p.p_ts - INTERVAL 3600 SECOND
 AND v.v_ts <= p.p_ts
"""


@register(
    "stream_interval_join_e2e",
    "streaming",
    "END-TO-END stream-stream interval join: purchases and views replayed as "
    "two file-source streams, joined on user_id where the view falls in the "
    "hour before the purchase — both sides watermarked so buffered state "
    "evicts once the other side's watermark passes the interval end "
    "(O(rate x horizon) state, independent of stream age). Append-mode "
    "parquet sink; the final table equals the batch join, which the oracle "
    "checks value-for-value.",
    oracle=_INTERVAL_JOIN_ORACLE,
)
def stream_interval_join_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    base = new_run_dir("ivj")
    p_dir = os.path.join(base, "purchases")
    v_dir = os.path.join(base, "views")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("v_ts")
    )
    purchases.write.mode("overwrite").parquet(p_dir)
    views.write.mode("overwrite").parquet(v_dir)

    p_stream = spark.readStream.schema(purchases.schema).parquet(p_dir)
    v_stream = spark.readStream.schema(views.schema).parquet(v_dir)
    joined = interval_join(
        p_stream, v_stream, key="user_id", left_ts="p_ts", right_ts="v_ts",
        horizon_sec=3600,
    )
    out = run_stream(joined, base)
    res = spark.read.parquet(out)
    return res.select(
        "purchase_id",
        "user_id",
        F.unix_millis("p_ts").alias("purchase_ms"),
        "view_id",
        F.unix_millis("v_ts").alias("view_ms"),
    )


_WM_DEDUP_ORACLE = """
SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, event_type
FROM events
"""


@register(
    "stream_watermark_dedup_e2e",
    "streaming",
    "END-TO-END watermark-bounded streaming dedup: the events replay carries "
    "injected re-deliveries (every 5th event duplicated, byte-identical — the "
    "at-least-once Kafka delivery contract of reference O1), and "
    "dropDuplicatesWithinWatermark on event_id suppresses them with state "
    "bounded by the 10-minute horizon (old keys age out with the watermark). "
    "The final table recovers exactly the original event set.",
    oracle=_WM_DEDUP_ORACLE,
)
def stream_watermark_dedup_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir).select("user_id", "event_id", "ts", "event_type")
    base = new_run_dir("wmd")
    src = os.path.join(base, "src")
    redelivered = ev.unionByName(ev.filter(F.col("event_id") % 5 == 0))
    redelivered.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(ev.schema).parquet(src)
    deduped = dedup_within_watermark(stream, horizon="10 minutes")
    out = run_stream(deduped, base)
    return spark.read.parquet(out).select(
        "user_id", "event_id", F.unix_millis("ts").alias("ts_ms"), "event_type"
    )


# --------------------------------------------------------------------------
# Session windows as a real streaming query
# --------------------------------------------------------------------------

# Same contract as the batch twin q32_session_window / its oracle.
_SESSION_E2E_ORACLE = """
WITH o AS (
  SELECT user_id, ts, value, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) >= 1800000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
s AS (
  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
  FROM o
)
SELECT user_id,
       min(epoch_ms(ts))                     AS session_start_ms,
       count(*)                              AS n_events,
       floor((sum(value)) * 100 + 0.5) / 100 AS sum_value
FROM s
GROUP BY user_id, sess_id
"""


@register(
    "stream_session_window_e2e",
    "streaming",
    "END-TO-END streaming session windows: events replayed as file "
    "micro-batches through withWatermark + session_window(30 min) in "
    "APPEND mode — a session row only emits once the watermark passes its "
    "close, so a far-future sentinel batch (filtered from the result) "
    "advances the watermark past every real session and the trailing "
    "no-data batch flushes them. State is O(open sessions) and evicted on "
    "emission — the bounded-state form of gap sessionization a 100 TB "
    "event stream needs. Final table equals the batch twin "
    "(q32_session_window), value-checked by the same gaps-and-islands "
    "oracle.",
    oracle=_SESSION_E2E_ORACLE,
)
def stream_session_window_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_stream_kudu_spark.functions.rounding import fround

    ev = _ev(spark, sf_dir).select("user_id", "event_id", "ts", "value")
    base = new_run_dir("sess")
    sentinel = ev.sparkSession.createDataFrame(
        [(-1, -1)], "user_id long, event_id long"
    ).select(
        "user_id",
        "event_id",
        F.to_timestamp(F.lit("2030-01-01 00:00:00")).alias("ts"),
        F.lit(0.0).alias("value"),
    )
    # File-source order is modification time (oldest first): real events
    # form batch 0, the sentinel batch 1 so its watermark advance happens
    # after every real row is in state.
    stage_one_slice(ev, base, 0)
    src = stage_one_slice(sentinel, base, 1)

    sessions = (
        replay_stream(spark, ev.schema, src)
        .withWatermark("ts", "1 second")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            fround(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_millis(F.col("w.start")).alias("session_start_ms"),
            "n_events",
            "sum_value",
        )
    )
    out = run_stream(sessions, base)
    return spark.read.parquet(out).filter(F.col("user_id") >= 0)


# --------------------------------------------------------------------------
# Incrementally-maintained rollup (streaming continuous aggregate)
# --------------------------------------------------------------------------

_MIN_MS = 60_000

_ROLLUP_ORACLE = f"""
SELECT (epoch_ms(ts) // {_MIN_MS}) * {_MIN_MS} AS bucket_ms,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS value_e4
FROM events
GROUP BY 1, 2
"""


@register(
    "stream_rollup_incremental_e2e",
    "streaming",
    "END-TO-END incrementally-maintained minute rollup (the streaming form "
    "of the q59 continuous-aggregate pattern): events replayed as 4 parquet "
    "micro-batches; each batch aggregates to (minute-bucket, event_type) "
    "partials that a sum-combine sink SUM-merges into the keyed store — "
    "additive merge is commutative/associative, so the final table is "
    "batch-boundary-independent and equals the one-shot batch rollup the "
    "oracle computes. Idempotent-replay marker prevents double-counting; "
    "at 100 TB the store is the minute-level rollup table that hour/day "
    "levels re-aggregate (never rescanning raw events).",
    oracle=_ROLLUP_ORACLE,
)
def stream_rollup_incremental_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:

    from spark_stream_kudu_spark.streaming.sinks import UpsertParquetSink

    ev = _ev(spark, sf_dir).select("event_id", "ts", "event_type", "value")
    base = new_run_dir("roll")
    # 4 replay files = 4 micro-batches (maxFilesPerTrigger=1), all
    # staged executor-side in ONE scan (no driver collect).
    src = stage_mod_slices(ev, base, "event_id")

    sink = UpsertParquetSink(
        os.path.join(base, "rollup"),
        key=["bucket_ms", "event_type"],
        combine="sum",
    )

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        partial = (
            batch_df.groupBy(
                (idiv(F.unix_millis("ts"), _MIN_MS) * _MIN_MS).alias("bucket_ms"),
                "event_type",
            ).agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.round(F.col("value") * 10000).cast("long")).alias("value_e4"),
            )
        )
        sink(partial, batch_id)

    run_stream(replay_stream(spark, ev.schema, src), base, per_batch)
    return sink.read(spark).select("bucket_ms", "event_type", "n_events", "value_e4")


# --------------------------------------------------------------------------
# Stream-static enrichment join (dimension lookup on a live stream)
# --------------------------------------------------------------------------

_ENRICH_ORACLE = """
SELECT e.event_id, e.user_id,
       c.c_mktsegment AS segment,
       n.n_name AS nation_name,
       e.event_type,
       epoch_ms(e.ts) AS ts_ms,
       floor(e.value * 100 + 0.5) / 100 AS value
FROM events e
JOIN customer c ON c.c_custkey = e.user_id
JOIN nation n ON n.n_nationkey = c.c_nationkey
"""


@register(
    "stream_enrich_static_e2e",
    "streaming",
    "END-TO-END stream-static enrichment: the events replay joined per "
    "micro-batch against a STATIC customer x nation dimension (broadcast "
    "hash join — stateless, no watermark, no streaming state at all; the "
    "dimension is re-resolvable per batch, which is how slowly-refreshing "
    "dims stay current on a live stream). The canonical lookup-enrichment "
    "every event pipeline runs before routing/aggregation; append-mode "
    "parquet sink, final table value-equals the batch three-table join. "
    "At 100 TB/day of events the dimension side stays dimension-sized, so "
    "the stream never shuffles — per-batch cost is scan + broadcast probe.",
    oracle=_ENRICH_ORACLE,
)
def stream_enrich_static_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    base = new_run_dir("enr")
    src = os.path.join(base, "src")
    ev.write.mode("overwrite").parquet(src)

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    dim = cust.join(nation, cust["c_nationkey"] == nation["n_nationkey"]).select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.col("n_name").alias("nation_name"),
    )

    stream = spark.readStream.schema(ev.schema).parquet(src)
    # The customer-derived dim is entity-scale: un-hinted — the
    # static-side planner broadcasts it from scan stats per micro-batch
    # at test SF and degrades to a shuffled stream-static join at scale.
    enriched = stream.join(
        dim, stream["user_id"] == dim["c_custkey"]
    ).select(
        "event_id",
        "user_id",
        "segment",
        "nation_name",
        "event_type",
        "ts",
        "value",
    )
    out = run_stream(enriched, base)
    return spark.read.parquet(out).select(
        "event_id",
        "user_id",
        "segment",
        "nation_name",
        "event_type",
        F.unix_millis("ts").alias("ts_ms"),
        (F.floor(F.col("value") * 100 + F.lit(0.5)) / 100).alias("value"),
    )


# --------------------------------------------------------------------------
# Streaming trending leaderboard (windowed heavy hitters, incremental)
# --------------------------------------------------------------------------


def _trend_oracle() -> str:
    from spark_stream_kudu_spark.operators.analytics import _TREND_ORACLE

    return _TREND_ORACLE


@register(
    "stream_trending_e2e",
    "streaming",
    "END-TO-END streaming trending leaderboard: events replayed as 4 "
    "micro-batches; each batch counts (hourly-bucket, event_type) "
    "partials that a sum-combine sink SUM-merges (commutative, so the "
    "store is batch-boundary-independent), and the top-3 rank runs at "
    "READ time over the |windows| x |types| rollup — never over raw "
    "events. The streaming twin of q84_trending, value-equal to its "
    "batch oracle. The production shape for live leaderboards at 100 TB/"
    "day: the expensive count is incremental and map-side-combined; the "
    "rank is a cheap query over the maintained store.",
    oracle=_trend_oracle(),
)
def stream_trending_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:

    from pyspark.sql import Window

    from spark_stream_kudu_spark.operators.analytics import _TREND_K
    from spark_stream_kudu_spark.streaming.sinks import UpsertParquetSink

    ev = _ev(spark, sf_dir).select("event_id", "ts", "event_type")
    base = new_run_dir("trend")
    src = stage_mod_slices(ev, base, "event_id")

    sink = UpsertParquetSink(
        os.path.join(base, "counts"),
        key=["bucket_ms", "event_type"],
        combine="sum",
    )

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        partial = batch_df.groupBy(
            F.unix_millis(F.date_trunc("hour", F.col("ts"))).alias("bucket_ms"),
            "event_type",
        ).agg(F.count(F.lit(1)).alias("n_events"))
        sink(partial, batch_id)

    run_stream(replay_stream(spark, ev.schema, src), base, per_batch)

    counts = sink.read(spark).select("bucket_ms", "event_type", "n_events")
    w = Window.partitionBy("bucket_ms").orderBy(
        F.col("n_events").desc(), F.col("event_type").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TREND_K)
        .select("bucket_ms", "event_type", "n_events", "rank")
    )


# --------------------------------------------------------------------------
# Stream-stream LEFT OUTER interval join (unmatched rows must emit)
# --------------------------------------------------------------------------

_OUTER_JOIN_ORACLE = """
WITH p AS (
  SELECT user_id, event_id AS purchase_id, ts AS p_ts
  FROM events WHERE event_type = 'purchase'
),
v AS (
  SELECT user_id, event_id AS view_id, ts AS v_ts
  FROM events WHERE event_type = 'view'
)
SELECT p.purchase_id, p.user_id,
       epoch_ms(p.p_ts) AS purchase_ms,
       v.view_id,
       epoch_ms(v.v_ts) AS view_ms
FROM p LEFT JOIN v
  ON v.user_id = p.user_id
 AND v.v_ts >= p.p_ts - INTERVAL 3600 SECOND
 AND v.v_ts <= p.p_ts
"""


@register(
    "stream_outer_interval_join_e2e",
    "streaming",
    "END-TO-END stream-stream LEFT OUTER interval join: same two replayed "
    "streams as the inner join, but purchases with NO view in the prior "
    "hour must STILL emit (with nulls) — the attribution-gap/timeout shape "
    "an inner join silently drops. An unmatched row is only final once the "
    "right watermark passes its interval end, so a far-future sentinel "
    "view (unmatchable user, filtered from the result) advances the "
    "watermark past every real purchase and the trailing no-data batch "
    "flushes the null rows. State/eviction identical to the inner join: "
    "O(rate x horizon), independent of stream age.",
    oracle=_OUTER_JOIN_ORACLE,
)
def stream_outer_interval_join_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_stream_kudu_spark.streaming.joins import interval_join_left_outer

    ev = _ev(spark, sf_dir)
    base = new_run_dir("ovj")
    p_dir = os.path.join(base, "purchases")
    v_dir = os.path.join(base, "views")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("v_ts")
    )
    # Sentinels: one unmatchable row far past every real event on EACH
    # side — outer-row finalization is gated by the GLOBAL watermark
    # (min across inputs), so both streams must advance past the last
    # real purchase's interval end before its null row can emit.
    max_ts = ev.agg(F.max("ts").alias("m")).collect()[0].m
    v_sentinel = spark.createDataFrame(
        [(-1, -1, max_ts)], "user_id long, view_id long, v_ts timestamp"
    ).select(
        "user_id", "view_id", (F.col("v_ts") + F.expr("INTERVAL 30 DAYS")).alias("v_ts")
    )
    p_sentinel = spark.createDataFrame(
        [(-1, -1, max_ts)], "user_id long, purchase_id long, p_ts timestamp"
    ).select(
        "user_id",
        "purchase_id",
        (F.col("p_ts") + F.expr("INTERVAL 30 DAYS")).alias("p_ts"),
    )
    purchases.unionByName(p_sentinel).write.mode("overwrite").parquet(p_dir)
    views.unionByName(v_sentinel).write.mode("overwrite").parquet(v_dir)

    p_stream = spark.readStream.schema(purchases.schema).parquet(p_dir)
    v_stream = spark.readStream.schema(views.schema).parquet(v_dir)
    joined = interval_join_left_outer(
        p_stream, v_stream, key="user_id", left_ts="p_ts", right_ts="v_ts",
        horizon_sec=3600,
    )
    out = run_stream(joined, base)
    return (
        spark.read.parquet(out)
        .filter(F.col("user_id") >= 0)
        .select(
            "purchase_id",
            "user_id",
            F.unix_millis("p_ts").alias("purchase_ms"),
            "view_id",
            F.unix_millis("v_ts").alias("view_ms"),
        )
    )


# --------------------------------------------------------------------------
# Stream-stream FULL OUTER interval join (both sides emit on timeout)
# --------------------------------------------------------------------------

_FULL_OUTER_JOIN_ORACLE = """
WITH p AS (
  SELECT user_id, event_id AS purchase_id, ts AS p_ts
  FROM events WHERE event_type = 'purchase'
),
v AS (
  SELECT user_id, event_id AS view_id, ts AS v_ts
  FROM events WHERE event_type = 'view'
)
SELECT p.purchase_id,
       COALESCE(p.user_id, v.user_id) AS user_id,
       epoch_ms(p.p_ts) AS purchase_ms,
       v.view_id,
       epoch_ms(v.v_ts) AS view_ms
FROM p FULL JOIN v
  ON v.user_id = p.user_id
 AND v.v_ts >= p.p_ts - INTERVAL 3600 SECOND
 AND v.v_ts <= p.p_ts
"""


@register(
    "stream_full_outer_interval_join_e2e",
    "streaming",
    "END-TO-END stream-stream FULL OUTER interval join — the last "
    "Spark-supported variant, closing the matrix with the inner and "
    "left-outer twins: matched purchase/view pairs emit once, purchases "
    "with NO view in the prior hour emit with null views, AND views "
    "followed by NO purchase within an hour emit with null purchases — "
    "both emit-on-timeout paths a real pipeline hits (attribution gaps "
    "on one side, abandoned sessions on the other). Each side's "
    "unmatched rows finalize when the OPPOSITE watermark passes their "
    "interval bound, so one far-future sentinel per side (unmatchable "
    "user, filtered from the result) advances the global watermark past "
    "every real row and the trailing no-data batch flushes both null "
    "populations. State/eviction identical to the inner join: O(rate x "
    "horizon), independent of stream age. Final table equals the batch "
    "FULL JOIN, value-checked by the oracle.",
    oracle=_FULL_OUTER_JOIN_ORACLE,
)
def stream_full_outer_interval_join_e2e(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from spark_stream_kudu_spark.streaming.joins import interval_join_full_outer

    ev = _ev(spark, sf_dir)
    base = new_run_dir("fovj")
    p_dir = os.path.join(base, "purchases")
    v_dir = os.path.join(base, "views")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("v_ts")
    )
    # Sentinels: one unmatchable row far past every real event on EACH
    # side — unmatched-row finalization (both directions here) is gated
    # by the GLOBAL watermark (min across inputs), so both streams must
    # advance past the last real row's interval bound before its null
    # row can emit.
    max_ts = ev.agg(F.max("ts").alias("m")).collect()[0].m  # bounded: 1 row
    if max_ts is None:
        # A null sentinel timestamp would never advance the watermark,
        # silently suppressing both null populations — fail loudly on a
        # degenerate (empty) events fixture instead.
        raise ValueError(
            "events fixture is empty: cannot derive watermark sentinels "
            "for the full-outer interval join"
        )
    v_sentinel = spark.createDataFrame(
        [(-1, -1, max_ts)], "user_id long, view_id long, v_ts timestamp"
    ).select(
        "user_id", "view_id", (F.col("v_ts") + F.expr("INTERVAL 30 DAYS")).alias("v_ts")
    )
    p_sentinel = spark.createDataFrame(
        [(-1, -1, max_ts)], "user_id long, purchase_id long, p_ts timestamp"
    ).select(
        "user_id",
        "purchase_id",
        (F.col("p_ts") + F.expr("INTERVAL 30 DAYS")).alias("p_ts"),
    )
    purchases.unionByName(p_sentinel).write.mode("overwrite").parquet(p_dir)
    views.unionByName(v_sentinel).write.mode("overwrite").parquet(v_dir)

    p_stream = spark.readStream.schema(purchases.schema).parquet(p_dir)
    v_stream = spark.readStream.schema(views.schema).parquet(v_dir)
    joined = interval_join_full_outer(
        p_stream, v_stream, key="user_id", left_ts="p_ts", right_ts="v_ts",
        horizon_sec=3600,
    )
    out = run_stream(joined, base)
    return (
        spark.read.parquet(out)
        .filter(F.col("user_id") >= 0)
        .select(
            "purchase_id",
            "user_id",
            F.unix_millis("p_ts").alias("purchase_ms"),
            "view_id",
            F.unix_millis("v_ts").alias("view_ms"),
        )
    )


# --------------------------------------------------------------------------
# Streaming media ingest: continuous decode + feature extraction
# --------------------------------------------------------------------------


def _media_decode_oracle() -> str:
    from spark_stream_kudu_spark.operators.multimodal import _DECODE_ORACLE

    return _DECODE_ORACLE


@register(
    "stream_media_decode_e2e",
    "streaming",
    "END-TO-END streaming media ingest — the continuous form of the "
    "multimodal decode path: documents replayed as 4 micro-batches; each "
    "batch synthesizes its PPM payloads and runs the SAME Arrow decode "
    "kernel as batch multimodal_decode_ppm (header parse, RGB reshape, "
    "exact per-channel sums), upserted into a doc_id-keyed store "
    "(idempotent under replay). Decode cost scales with the BATCH, never "
    "the corpus — the property a 100 TB media crawl needs — and the "
    "maintained feature table equals the one-shot batch decode, checked "
    "by the identical positional-recompute oracle. Payload bytes live "
    "only inside the batch: the store holds fixed-width feature rows.",
    oracle=_media_decode_oracle(),
)
def stream_media_decode_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_stream_kudu_spark.operators.multimodal import ppm_decode_features
    from spark_stream_kudu_spark.streaming.sinks import UpsertParquetSink

    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = new_run_dir("smd")
    src = stage_mod_slices(docs, base, "doc_id")

    sink = UpsertParquetSink(os.path.join(base, "features"), key=["doc_id"])

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # Lazy cut (round-11, the section-2c idiom): the sink's
        # empty-batch probe would otherwise pay the Python-boundary
        # decode once for the probe and again for the merge; the probe
        # now materializes the checkpoint and the merge reads it back —
        # each payload crosses the JVM<->Python boundary once per batch
        # (guide section 4).
        sink(ppm_decode_features(batch_df).localCheckpoint(eager=False), batch_id)

    run_stream(replay_stream(spark, docs.schema, src), base, per_batch)
    return sink.read(spark).select(
        "doc_id", "width", "height", "n_px", "r_sum", "g_sum", "b_sum"
    )


# --------------------------------------------------------------------------
# Streaming incremental content-digest maintenance (CDC integrity monitor)
# --------------------------------------------------------------------------


def _stream_digest_oracle() -> str:
    from spark_stream_kudu_spark.functions.hashing import sql_md5_int32

    row = (
        "concat_ws('|', CAST(event_id AS VARCHAR), CAST(user_id AS VARCHAR), "
        "event_type, CAST(epoch_ms(ts) AS VARCHAR), "
        "CAST(CAST(floor(value * 10000 + 0.5) AS BIGINT) AS VARCHAR))"
    )
    h = sql_md5_int32(row)
    return f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST({h} AS DECIMAL(38,0))) AS VARCHAR) AS digest_sum
FROM events
GROUP BY event_type
"""


@register(
    "stream_digest_e2e",
    "streaming",
    "END-TO-END incremental content-digest maintenance: each micro-batch "
    "computes per-event-type partial digests (sum of canonical row "
    "hashes — the q99 convention) that the additive sink SUM-merges into "
    "the keyed store. Digest sums are commutative/associative, so the "
    "maintained table equals the one-shot batch digest regardless of "
    "batch boundaries — the continuous integrity monitor a CDC feed "
    "runs beside its sink: replay, reorder, or double-apply and the "
    "digest diverges from the source-of-truth digest immediately. "
    "Idempotent-replay marker prevents double-counting.",
    oracle=_stream_digest_oracle(),
)
def stream_digest_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:

    from spark_stream_kudu_spark.functions.hashing import md5_int32
    from spark_stream_kudu_spark.streaming.sinks import UpsertParquetSink

    ev = _ev(spark, sf_dir).select("event_id", "user_id", "event_type", "ts", "value")
    base = new_run_dir("dig")
    src = stage_mod_slices(ev, base, "event_id")

    sink = UpsertParquetSink(
        os.path.join(base, "digest"),
        key=["event_type"],
        combine="sum",
    )

    row = F.concat_ws(
        "|",
        F.col("event_id").cast("string"),
        F.col("user_id").cast("string"),
        F.col("event_type"),
        F.unix_millis("ts").cast("string"),
        F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long").cast("string"),
    )

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        partial = batch_df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(md5_int32(row).cast("decimal(38,0)")).alias("digest_sum"),
        )
        sink(partial, batch_id)

    run_stream(replay_stream(spark, ev.schema, src), base, per_batch)
    return sink.read(spark).select(
        "event_type",
        "n_rows",
        F.col("digest_sum").cast("decimal(38,0)").cast("string").alias("digest_sum"),
    )


# --------------------------------------------------------------------------
# Streaming vector search: live queries served from the static PQ index
# --------------------------------------------------------------------------


def _stream_ann_oracle() -> str:
    from spark_stream_kudu_spark.operators.similarity import _ADC_ORACLE

    return _ADC_ORACLE


@register(
    "stream_ann_e2e",
    "streaming",
    "END-TO-END streaming vector search: query vectors arrive as a live "
    "stream and each micro-batch is served against the STATIC PQ-coded "
    "corpus — the batch computes its queries' distance lookup table "
    "(|batch| x |codebook|, broadcast) and scores every corpus vector "
    "from its 4-int codes, appending per-query top-k. The real-time "
    "retrieval serving shape: the heavy index (codes) is a static table "
    "resolved per batch, queries stream through, nothing global "
    "re-trains. Value-equal to the batch PQ-ADC oracle.",
    oracle=_stream_ann_oracle(),
)
def stream_ann_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from spark_stream_kudu_spark.operators.similarity import (
        _ADC_TOP_K,
        _PQ_SUBSPACES,
        _pq_d2,
        _pq_slice,
        N_QUERIES,
        _PQ_MOD,
        emb_pq_codes,
    )

    tune_session(spark)
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = new_run_dir("ann")
    q_dir = os.path.join(base, "queries")
    queries = e.filter(F.col("vec_id") < N_QUERIES)
    queries.write.mode("overwrite").parquet(q_dir)

    cents = e.filter(F.col("vec_id") % _PQ_MOD == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    # LUT row bound, computed ONCE outside the per-batch closure: the
    # stream source is the N_QUERIES query file, the codebook is
    # |corpus|/_PQ_MOD rows (footer count, no job).
    from spark_stream_kudu_spark.functions.joins import gated_broadcast
    from spark_stream_kudu_spark.operators.similarity import _codebook_rows

    lut_rows = N_QUERIES * _codebook_rows(sf_dir, _PQ_MOD) * _PQ_SUBSPACES
    codes = emb_pq_codes(spark, sf_dir).filter(F.col("vec_id") >= N_QUERIES)
    long_codes = codes.select(
        F.col("vec_id").alias("neighbor_id"),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(s).alias("sub"), F.col(f"code_{s}").alias("cid"))
                    for s in range(_PQ_SUBSPACES)
                ]
            )
        ).alias("sc"),
    ).select("neighbor_id", F.col("sc.sub").alias("sub"), F.col("sc.cid").alias("cid"))
    long_codes = _pin(long_codes)  # static index, built once

    out = os.path.join(base, "out")

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        q = batch_df.select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
        )
        lut = None
        for s in range(_PQ_SUBSPACES):
            # the microbatch query set is bounded by the stream source
            # (the N_QUERIES query file); the codebook side streams
            part = cents.crossJoin(F.broadcast(q)).select(  # bounded: N_QUERIES stream source
                "qid",
                F.lit(s).alias("sub"),
                "cid",
                _pq_d2(_pq_slice(F.col("qv"), s), _pq_slice(F.col("cv"), s)).alias(
                    "d2"
                ),
            )
            lut = part if lut is None else lut.unionByName(part)
        # |batch| x |codebook| x subspaces rows — the codebook factor
        # scales with the corpus, so the broadcast is size-gated
        # (round-12); shuffled-hash past the gate.
        adc = (
            long_codes.join(gated_broadcast(lut, lut_rows, spark), ["sub", "cid"])
            .groupBy("qid", "neighbor_id")
            .agg(F.sum("d2").alias("adc_d2"))
        )
        w = Window.partitionBy("qid").orderBy(
            F.col("adc_d2").asc(), F.col("neighbor_id").asc()
        )
        (
            adc.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= _ADC_TOP_K)
            .select("qid", "neighbor_id", "adc_d2", "rank")
            .write.mode("append")
            .parquet(out)
        )

    run_stream(replay_stream(spark, queries.schema, q_dir), base, per_batch)
    return spark.read.parquet(out).select("qid", "neighbor_id", "adc_d2", "rank")


# --------------------------------------------------------------------------
# Late-data audit: watermark-dropped rows are exactly the late arrivals
# --------------------------------------------------------------------------

_LATE_CUTOFF = "2024-01-08"

_LATE_AUDIT_ORACLE = f"""
SELECT CAST(epoch_ms(date_trunc('day', ts)) AS BIGINT) AS day_ms,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events
FROM events
WHERE NOT (event_id % 11 = 3 AND ts < TIMESTAMP '{_LATE_CUTOFF}')
GROUP BY 1, 2
"""


@register(
    "stream_late_audit_e2e",
    "streaming",
    "END-TO-END watermark late-data semantics, value-checked: a "
    "deterministic slice of week-1 events (event_id % 11 = 3) is held "
    "back and replayed AFTER weeks 2-4, by which point the 1-hour "
    "watermark has closed and evicted every week-1 daily window — so "
    "the late rows are dropped from the append-mode aggregate, state "
    "stays bounded by the watermark horizon, and the final table equals "
    "the batch aggregate EXCLUDING exactly the late set (the oracle). "
    "This pins the eviction/drop contract a 100 TB continuous pipeline "
    "depends on: without it, either state grows forever or late data "
    "silently corrupts closed windows.",
    oracle=_LATE_AUDIT_ORACLE,
)
def stream_late_audit_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir).select("user_id", "event_id", "ts", "event_type")
    base = new_run_dir("late")
    cutoff = F.lit(_LATE_CUTOFF).cast("timestamp")
    is_late = (F.col("event_id") % 11 == 3) & (F.col("ts") < cutoff)
    sentinel = ev.sparkSession.createDataFrame(
        [(-1, -1)], "user_id long, event_id long"
    ).select(
        "user_id",
        "event_id",
        F.to_timestamp(F.lit("2030-01-01 00:00:00")).alias("ts"),
        F.lit("view").alias("event_type"),
    )
    # Arrival order: on-time week 1; weeks 2-3; week 4; THEN the late
    # week-1 slice; sentinel last to flush remaining windows. Weeks 2-4
    # are split into TWO batches because the stateful operator's
    # late-row filter is planned with the watermark of the PREVIOUS
    # batch (one batch of lag, observed empirically): by the late
    # batch, even the lagged watermark (set by the weeks-2-3 maximum)
    # is past every week-1 window, so the whole late slice drops
    # deterministically.
    mid = F.lit("2024-01-22").cast("timestamp")
    arrivals = [
        ev.filter((F.col("ts") < cutoff) & ~is_late),
        ev.filter((F.col("ts") >= cutoff) & (F.col("ts") < mid)),
        ev.filter(F.col("ts") >= mid),
        ev.filter(is_late),
        sentinel,
    ]
    for k, slice_df in enumerate(arrivals):
        src = stage_one_slice(slice_df, base, k)

    daily = (
        replay_stream(spark, ev.schema, src)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_millis(F.col("w.start")).alias("day_ms"),
            "event_type",
            "n_events",
        )
    )
    out = run_stream(daily, base)
    return spark.read.parquet(out).filter(
        F.col("day_ms") < F.unix_millis(F.to_timestamp(F.lit("2029-12-31")))
    )


@register(
    "stream_hll_e2e",
    "streaming",
    "END-TO-END streaming cardinality without identities: each "
    "micro-batch reduces to ONE HLL sketch per event_type "
    "(hll_sketch_agg of user_id) and an hll_union_agg-combine sink "
    "register-max-merges it into the keyed store. Union is commutative, "
    "associative AND idempotent, so the final estimate is bit-identical to the "
    "one-shot batch sketch for ANY batch slicing (pinned exactly by "
    "the invariant test). Oracle-checkable since round 4 via the same "
    "exact-anchor pattern as the batch sketch family: each key carries "
    "the exact distinct count plus a BIGINT flag asserting the merged "
    "streaming estimate sits within 5% of it — a broken union merge "
    "turns the flag to 0 and the driver row red. State is |keys| "
    "sketches, never user ids.",
    oracle="""
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       CAST(1 AS BIGINT) AS est_ok
FROM events GROUP BY event_type
""",
)
def stream_hll_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev, store = run_stream_hll(spark, sf_dir)
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    est = F.hll_sketch_estimate("sk")
    ok = (
        F.abs(est - F.col("exact_users"))
        <= F.greatest(F.lit(1.0), F.lit(0.05) * F.col("exact_users"))
    ).cast("bigint")
    return store.join(exact, "event_type").select(
        "event_type", "exact_users", ok.alias("est_ok")
    )


def run_stream_hll(spark: SparkSession, sf_dir: str):
    """Run the streaming HLL pipeline; return (events_df, sketch store).

    Split out so the bit-equality invariant test can read the raw
    merged sketches (the registered query finalizes to exact-anchor +
    flag columns for the oracle gate)."""
    from spark_stream_kudu_spark.streaming.sinks import UpsertParquetSink

    ev = _ev(spark, sf_dir).select("event_id", "event_type", "user_id")
    base = new_run_dir("hll")
    src = stage_mod_slices(ev, base, "event_id")

    sink = UpsertParquetSink(
        os.path.join(base, "sketches"), key="event_type", combine="hll_union_agg"
    )

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        partial = batch_df.groupBy("event_type").agg(
            F.hll_sketch_agg("user_id").alias("sk")
        )
        sink(partial, batch_id)

    run_stream(replay_stream(spark, ev.schema, src), base, per_batch)
    store = sink.read(spark)
    return ev, store


# --------------------------------------------------------------------------
# Streaming approximate top-k — the q157 Space-Saving twin
# --------------------------------------------------------------------------


def _ss_oracle() -> str:
    from spark_stream_kudu_spark.operators.sketches import _SS_ORACLE

    return _SS_ORACLE


@register(
    "stream_topk_e2e",
    "streaming",
    "END-TO-END streaming approximate top-k: the corpus replayed as 4 "
    "document micro-batches; each batch's token stream reduces to "
    "per-(batch, partition) mergeable Space-Saving summaries (the SAME "
    "Arrow kernel as batch q157) upserted into a (pid, item)-keyed "
    "store — idempotent under replay because pid encodes the batch. "
    "The finalize runs the shared bound-merge over the stored "
    "summaries: the merge math is valid for ANY disjoint slicing of "
    "the stream, so (batch x partition) slices work exactly like "
    "q157's static scan partitions, and the same exact-anchor oracle "
    "checks coverage and bound containment. The finalize's exact "
    "full-corpus anchor scan is GATE-ONLY (q157's convention): it "
    "exists so the driver sees sketch regressions as red rows; a "
    "production deployment reports the merged bounds alone and never "
    "rescans the corpus. Store growth is O(m) rows "
    "per batch partition — never the token stream; this is the "
    "trending-terms dashboard feed whose state stays sketch-sized "
    "forever.",
    oracle=_ss_oracle(),
)
def stream_topk_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_stream_kudu_spark.functions.textutil import tokens
    from spark_stream_kudu_spark.operators.sketches import (
        ss_finalize_topk,
        ss_merge_bounds,
        ss_summarize,
        ss_summary_schema,
    )
    from spark_stream_kudu_spark.streaming.sinks import UpsertParquetSink

    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = new_run_dir("sstk")
    src = stage_mod_slices(docs, base, "doc_id")

    sink = UpsertParquetSink(
        os.path.join(base, "summaries"), key=["pid", "item"]
    )

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        toks = batch_df.select(F.explode(tokens(F.col("text"))).alias("item"))
        summ = toks.withColumn(
            "pid",
            (F.spark_partition_id() + F.lit(batch_id * 4096)).cast("long"),
        ).mapInPandas(ss_summarize, ss_summary_schema())
        sink(summ, batch_id)

    run_stream(replay_stream(spark, docs.schema, src), base, per_batch)
    store = sink.read(spark).select("item", "est", "err", "pid", "absent_ub")
    all_toks = docs.select(F.explode(tokens(F.col("text"))).alias("item"))
    return ss_finalize_topk(all_toks, ss_merge_bounds(store))


# --------------------------------------------------------------------------
# Streaming histogram quantiles — the q163 sketch maintained incrementally
# --------------------------------------------------------------------------


def _hq_oracle() -> str:
    from spark_stream_kudu_spark.operators.statistics import _HQ_ORACLE

    return _HQ_ORACLE


@register(
    "stream_quantile_e2e",
    "streaming",
    "END-TO-END streaming percentiles: each micro-batch reduces to "
    "(event_type, bin) counts on the q163 log-linear grid (integer "
    "boundary arithmetic, no ln()) and a sum-combine sink "
    "SUM-merges them into the keyed store; the percentile finalize "
    "runs at read time over the stored grid with the batch sketch's "
    "own code. Counts are additive and replay-idempotent, so the "
    "latency-dashboard percentiles are batch-slicing-independent and "
    "equal the one-shot batch sketch — checked by the shared "
    "exact-anchor oracle. State is |types| x |bins| longs regardless "
    "of stream age; raw values are never stored or rescanned.",
    oracle=_hq_oracle(),
)
def stream_quantile_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_stream_kudu_spark.operators.statistics import (
        hq_bin_columns,
        hq_exact_anchors,
        hq_quantiles_from_bins,
    )
    from spark_stream_kudu_spark.streaming.sinks import UpsertParquetSink

    tune_session(spark)
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    base = new_run_dir("hq")
    src = stage_mod_slices(ev, base, "event_id")

    sink = UpsertParquetSink(
        os.path.join(base, "bins"),
        key=["event_type", "bin_id", "lo16", "hi16"],
        combine="sum",
    )

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        c = batch_df.select("event_type", cents.alias("cents")).filter(
            F.col("cents") >= 1
        )
        bin_id, lo16, hi16 = hq_bin_columns("cents")
        partial = (
            c.select("event_type", bin_id, lo16, hi16)
            .groupBy("event_type", "bin_id", "lo16", "hi16")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        sink(partial, batch_id)

    run_stream(replay_stream(spark, ev.schema, src), base, per_batch)
    bins = sink.read(spark).select("event_type", "bin_id", "lo16", "hi16", "c")
    return hq_quantiles_from_bins(bins, hq_exact_anchors(ev))


# --------------------------------------------------------------------------
# Streaming Count-Min — the q178 frequency grid maintained incrementally
# --------------------------------------------------------------------------


def _cm_oracle() -> str:
    from spark_stream_kudu_spark.operators.sketches import _CM_ORACLE

    return _CM_ORACLE


@register(
    "stream_countmin_e2e",
    "streaming",
    "END-TO-END streaming Count-Min: the corpus replayed as 4 document "
    "micro-batches; each batch's token stream folds through the SAME "
    "Arrow kernel as batch q178 into per-partition d x w grids, reduced "
    "to one per-batch (r, c) count partial that a sum-combine sink "
    "SUM-merges into the keyed cell store — cell-wise addition IS the "
    "Count-Min merge, so the stored grid equals the one-shot batch grid "
    "for any batch slicing, and replay is idempotent because the sink "
    "keys on (r, c) per batch. The finalize answers the point queries "
    "from the stored grid with the batch query's own code and the same "
    "exact-anchor oracle (the full-corpus anchor scan is GATE-ONLY, "
    "q157's convention — production reads the broadcast grid alone). "
    "State is <= d*w cells FOREVER regardless of stream age or token "
    "cardinality; raw tokens are never stored or rescanned.",
    oracle=_cm_oracle(),
)
def stream_countmin_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_stream_kudu_spark.functions.textutil import tokens
    from spark_stream_kudu_spark.operators.sketches import (
        cm_finalize_topk,
        cm_grid_schema,
        cm_summarize,
    )
    from spark_stream_kudu_spark.streaming.sinks import UpsertParquetSink

    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = new_run_dir("scm")
    src = stage_mod_slices(docs, base, "doc_id")

    sink = UpsertParquetSink(
        os.path.join(base, "cells"), key=["r", "c"], combine="sum"
    )

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        toks = batch_df.select(F.explode(tokens(F.col("text"))).alias("item"))
        partial = (
            toks.mapInPandas(cm_summarize, cm_grid_schema())
            .groupBy("r", "c")
            .agg(F.sum("cnt").alias("cnt"))
        )
        sink(partial, batch_id)

    run_stream(replay_stream(spark, docs.schema, src), base, per_batch)
    grid = sink.read(spark).select("r", "c", F.col("cnt").alias("cellsum"))
    all_toks = docs.select(F.explode(tokens(F.col("text"))).alias("item"))
    return cm_finalize_topk(all_toks, grid)


# --------------------------------------------------------------------------
# Streaming exact-substring audit — the span store maintained incrementally
# --------------------------------------------------------------------------


def _substr_oracle() -> str:
    from spark_stream_kudu_spark.operators.dedup import _SUBSTR_ORACLE

    return _SUBSTR_ORACLE


@register(
    "stream_substring_audit_e2e",
    "streaming",
    "END-TO-END streaming exact-substring duplication audit (the "
    "continuous contamination/boilerplate monitor): documents arrive "
    "as 4 micro-batches; each batch's span fingerprints (the SAME "
    "row-local derivation as batch dedup_exact_substring) upsert into "
    "a (doc_id, pos)-keyed span store and its doc sizes into a doc "
    "store — both replay-idempotent keyed upserts, per-batch cost "
    "O(batch spans). The audit finalizes from the STORES with the "
    "batch query's own code: duplication is a pure function of the "
    "span fingerprints, so raw text is never rescanned, and "
    "RETROACTIVE coverage is free — when a new arrival duplicates an "
    "old document's text, the old document's coverage rises at the "
    "next read because the dup decision lives in the store, not in a "
    "per-batch result. Same exact-anchor oracle as the batch twin. "
    "State is O(corpus spans) fingerprint rows (the honest cost, same "
    "class as the incremental-LSH band store), never text.",
    oracle=_substr_oracle(),
)
def stream_substring_audit_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_stream_kudu_spark.operators.dedup import (
        substr_audit_from_spans,
        substr_doc_sizes,
        substr_spans,
    )
    from spark_stream_kudu_spark.streaming.sinks import UpsertParquetSink, upsert_stores

    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = new_run_dir("ssub")
    src = stage_mod_slices(docs, base, "doc_id")

    span_store = UpsertParquetSink(
        os.path.join(base, "spans"), key=["doc_id", "pos"]
    )
    doc_store = UpsertParquetSink(os.path.join(base, "docs"), key=["doc_id"])

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # Neither store's input reads the other store, so either commit
        # order replays correctly.
        upsert_stores(
            batch_id,
            (span_store, substr_spans(batch_df)),
            (doc_store, substr_doc_sizes(batch_df)),
        )

    run_stream(replay_stream(spark, docs.schema, src), base, per_batch)
    return substr_audit_from_spans(
        span_store.read(spark).select("doc_id", "pos", "gh"),
        doc_store.read(spark).select("doc_id", "n_tokens"),
    )


# --------------------------------------------------------------------------
# Streaming incremental near-dup dedup — continuous-crawl LSH maintenance
# --------------------------------------------------------------------------


def _incr_dedup_oracle() -> str:
    from spark_stream_kudu_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        SHINGLE_N,
        _sql_bands_cte,
        _sql_minhash_cte,
    )
    from spark_stream_kudu_spark.functions.textutil import (
        sql_tokens,
        sql_word_shingles,
    )

    # The accumulated pair table equals the full-corpus verified pair
    # set DIRECTED by arrival order (batch = doc_id % 4, then doc_id):
    # each unordered near-dup pair appears once, from the later arrival
    # to the earlier.
    later = (
        "((doc_a % 4 > doc_b % 4) OR (doc_a % 4 = doc_b % 4 AND doc_a > doc_b))"
    )
    return f"""
WITH {_sql_minhash_cte()},
{_sql_bands_cte()},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
sh2 AS (
  SELECT doc_id, list_distinct({sql_word_shingles(sql_tokens('text'), SHINGLE_N)}) AS s
  FROM documents
),
v AS (
  SELECT c.doc_a, c.doc_b,
         floor((len(list_distinct(list_intersect(a.s, b.s))) * 1.0 /
                len(list_distinct(list_concat(a.s, b.s)))) * 1000000 + 0.5) / 1000000 AS jaccard
  FROM cand c JOIN sh2 a ON a.doc_id = c.doc_a JOIN sh2 b ON b.doc_id = c.doc_b
)
SELECT CASE WHEN {later} THEN doc_a ELSE doc_b END AS doc_id,
       CASE WHEN {later} THEN doc_b ELSE doc_a END AS matched_doc,
       jaccard
FROM v WHERE jaccard >= {JACCARD_THRESHOLD}
"""


@register(
    "stream_incremental_dedup_e2e",
    "streaming",
    "END-TO-END continuous-crawl dedup: documents arrive as 4 "
    "micro-batches; each batch's LSH bands join the ACCUMULATED band "
    "store (plus earlier arrivals within the batch), candidates verify "
    "with the exact Jaccard kernel, verified (new, earlier-match) "
    "pairs append to a keyed pair store, and the batch's bands upsert "
    "into the index — existing-vs-existing pairs are never "
    "re-enumerated, so per-batch cost scales with the batch, not the "
    "corpus (the streaming form of pipeline_incremental_lsh). Both "
    "stores are keyed upserts, replay-idempotent. The accumulated pair "
    "table provably equals the one-shot full-corpus verified pair set "
    "directed by arrival order, which is exactly what the oracle "
    "checks value-for-value.",
    oracle=_incr_dedup_oracle(),
)
def stream_incremental_dedup_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_stream_kudu_spark.functions.rounding import fround
    from spark_stream_kudu_spark.functions.textutil import tokens, word_shingles
    from spark_stream_kudu_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        SHINGLE_N,
        _minhash_bands,
    )
    from spark_stream_kudu_spark.streaming.sinks import UpsertParquetSink, upsert_stores

    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = new_run_dir("incd")
    src = stage_mod_slices(docs, base, "doc_id")

    band_store = UpsertParquetSink(
        os.path.join(base, "bands"), key=["doc_id", "band"]
    )
    pair_store = UpsertParquetSink(
        os.path.join(base, "pairs"), key=["doc_id", "matched_doc"]
    )
    # Shingle lookup is an enrichment join against the static corpus
    # table (the store holds bands only — at 100 TB you shard text by
    # doc_id and look it up the same way).
    sh = _pin(
        docs.select(
            "doc_id",
            F.array_distinct(
                word_shingles(tokens(F.col("text")), SHINGLE_N)
            ).alias("s"),
        )
    )

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # Per-micro-batch pin: deliberately executor-local regardless
        # of SPARK_GRAFT_PIN_MODE — batch data is replayable from the
        # stream checkpoint, and a persist per batch would leak cache
        # entries across the run. LAZY (round-11): the pair-store write
        # below is the batch's first action and materializes the cut —
        # the eager form paid one extra blocking job per micro-batch.
        bands = _minhash_bands(batch_df).localCheckpoint(eager=False)
        nb = bands.select(F.col("doc_id").alias("n"), "band", "bkey")
        prev = band_store.read(spark)
        targets = None
        if prev is not None:
            targets = prev.select(F.col("doc_id").alias("m"), "band", "bkey")
        within = bands.select(F.col("doc_id").alias("m"), "band", "bkey")
        cand_prev = (
            nb.join(targets, ["band", "bkey"]).select("n", "m")
            if targets is not None
            else None
        )
        cand_within = (
            nb.join(within, ["band", "bkey"])
            .filter(F.col("m") < F.col("n"))
            .select("n", "m")
        )
        cand = (
            cand_within
            if cand_prev is None
            else cand_within.unionByName(cand_prev)
        ).distinct()
        a = sh.select(F.col("doc_id").alias("n"), F.col("s").alias("sa"))
        b = sh.select(F.col("doc_id").alias("m"), F.col("s").alias("sb"))
        inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
        union = F.size(F.array_distinct(F.concat(F.col("sa"), F.col("sb"))))
        raw = inter * F.lit(1.0) / union
        verified = (
            cand.join(a, "n")
            .join(b, "m")
            .filter(raw >= JACCARD_THRESHOLD - 1e-12)
            .select(
                F.col("n").alias("doc_id"),
                F.col("m").alias("matched_doc"),
                fround(raw, 6).alias("jaccard"),
            )
            # Lazy cut (round-11, the section-2c idiom): the pair
            # store's empty-batch probe is the first action on this
            # plan; without the cut the probe runs the candidate joins
            # (which shuffle everything before their first output row)
            # and the merge then runs them AGAIN. The probe now
            # materializes the checkpoint and the merge reads it back.
            .localCheckpoint(eager=False)
        )
        # ``prev`` is this batch's read of the band store and nothing
        # wrote it since — hand it to the sink so the store is planned
        # once per batch. The verified pairs read the band store (via
        # ``prev``), so the band store commits last.
        upsert_stores(
            batch_id, (pair_store, verified), (band_store, bands, prev)
        )

    run_stream(replay_stream(spark, docs.schema, src), base, per_batch)
    out = pair_store.read(spark)
    if out is None:
        return spark.createDataFrame(
            [], "doc_id long, matched_doc long, jaccard double"
        )
    return out.select("doc_id", "matched_doc", "jaccard")


# --------------------------------------------------------------------------
# Streaming key-skew monitor — the q168 audit maintained incrementally
# --------------------------------------------------------------------------

_STREAM_SKEW_ORACLE = """
WITH k AS (
  SELECT user_id AS key, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY user_id
)
SELECT 'user_id' AS join_key,
       CAST(sum(n) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(max(n) AS BIGINT) AS max_key_rows,
       CAST(min(key) FILTER (WHERE n = (SELECT max(n) FROM k)) AS BIGINT)
         AS hottest_key,
       CAST(max(n) * count(*) * 1000 // sum(n) AS BIGINT) AS skew_x1000
FROM k
"""


@register(
    "stream_skew_audit_e2e",
    "streaming",
    "END-TO-END streaming key-skew monitor: each micro-batch reduces to "
    "per-key partial counts that SUM-merge into the additive keyed "
    "store (replay-idempotent), and the q168 skew summary finalizes "
    "from the store — THE BATCH QUERY'S OWN CODE — so a deployment "
    "watches its join-key distribution drift live instead of "
    "discovering a hot key inside a 100 TB shuffle. State is one count "
    "per key (the same |keys|-row table the batch audit builds); the "
    "finalize is slicing-independent because counts are associative. "
    "Value-checked against the one-shot batch oracle over the full "
    "event log.",
    oracle=_STREAM_SKEW_ORACLE,
)
def stream_skew_audit_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_stream_kudu_spark.operators.profiling import (
        skew_summary_from_counts,
    )
    from spark_stream_kudu_spark.streaming.sinks import UpsertParquetSink

    ev = _ev(spark, sf_dir).select("event_id", "user_id")
    base = new_run_dir("skew")
    src = stage_mod_slices(ev, base, "event_id")

    sink = UpsertParquetSink(
        os.path.join(base, "counts"), key=["key"], combine="sum"
    )

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        partial = batch_df.groupBy(F.col("user_id").alias("key")).agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )
        sink(partial, batch_id)

    run_stream(replay_stream(spark, ev.schema, src), base, per_batch)
    counts = sink.read(spark).select("key", F.col("n").cast("long").alias("n"))
    return skew_summary_from_counts(counts, "user_id")


# --------------------------------------------------------------------------
# Streaming data-contract gate — q175's rules enforced at ingest time
# --------------------------------------------------------------------------


def _stream_contract_oracle() -> str:
    from spark_stream_kudu_spark.operators.profiling import _CONTRACT_ORACLE

    return _CONTRACT_ORACLE


@register(
    "stream_contract_gate_e2e",
    "streaming",
    "END-TO-END streaming data-contract gate: the q175 rules run "
    "against each micro-batch of the order feed as it arrives — four "
    "row-local rules as one conditional aggregate per batch, the FK "
    "rule as a per-batch anti-join against the static customer "
    "dimension — and the (rule, checked, violations) partials SUM-merge "
    "into the additive keyed store (replay-idempotent). Violation "
    "counts are associative, so the accumulated report equals the "
    "batch gate's one-shot report for ANY batch slicing (value-checked "
    "by the same oracle): producers break contracts at 2am, and this "
    "is the query that notices DURING ingest, not at the next nightly "
    "audit.",
    oracle=_stream_contract_oracle(),
)
def stream_contract_gate_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_stream_kudu_spark.sources.tables import load_table
    from spark_stream_kudu_spark.streaming.sinks import UpsertParquetSink

    tune_session(spark)
    o = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    base = new_run_dir("contract")
    src = stage_mod_slices(o, base, "o_orderkey")

    sink = UpsertParquetSink(
        os.path.join(base, "report"),
        key=["rule"],
        combine="sum",
    )

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        def viol(cond):
            return F.sum(cond.cast("long")).cast("long")

        n = F.count(F.lit(1)).cast("long")
        wide = batch_df.agg(
            n.alias("n_checked"),
            viol(
                F.col("o_totalprice").isNull()
                | (F.col("o_totalprice") < 0)
                | (F.col("o_totalprice") > 10_000_000)
            ).alias("v_price"),
            viol(
                F.col("o_orderstatus").isNull()
                | ~F.col("o_orderstatus").isin("O", "F", "P")
            ).alias("v_status"),
            viol(
                F.col("o_orderdate").isNull()
                | (F.col("o_orderdate") < F.lit("1992-01-01").cast("timestamp"))
                | (F.col("o_orderdate") >= F.lit("2005-01-01").cast("timestamp"))
            ).alias("v_date"),
            viol(
                F.col("o_orderpriority").isNull()
                | ~F.col("o_orderpriority").rlike("^[1-5]-")
            ).alias("v_prio"),
        )
        rules = wide.selectExpr(
            "stack(4, "
            "'o_totalprice_nonneg', n_checked, v_price, "
            "'o_orderstatus_domain', n_checked, v_status, "
            "'o_orderdate_range', n_checked, v_date, "
            "'o_orderpriority_format', n_checked, v_prio"
            ") AS (rule, n_checked, n_violations)"
        )
        fk = (
            batch_df.join(
                # customer is entity-scale: un-hinted (stats/AQE).
                cust,
                batch_df["o_custkey"] == F.col("c_custkey"),
                "left_anti",
            )
            .agg(F.count(F.lit(1)).cast("long").alias("n_violations"))
            .crossJoin(
                batch_df.agg(F.count(F.lit(1)).cast("long").alias("n_checked"))
            )
            .select(
                F.lit("o_custkey_references_customer").alias("rule"),
                "n_checked",
                "n_violations",
            )
        )
        sink(rules.unionByName(fk), batch_id)

    run_stream(replay_stream(spark, o.schema, src), base, per_batch)
    return sink.read(spark).select(
        "rule",
        F.col("n_checked").cast("long").alias("n_checked"),
        F.col("n_violations").cast("long").alias("n_violations"),
    )


# --------------------------------------------------------------------------
# Streaming retraction IVM — the I/U/D aggregate maintained live
# --------------------------------------------------------------------------


def _stream_ivm_oracle() -> str:
    from spark_stream_kudu_spark.operators.pipeline import _ivm_oracle

    return _ivm_oracle()


@register(
    "stream_ivm_retraction_e2e",
    "streaming",
    "END-TO-END streaming retraction IVM: the I/U/D change log arrives "
    "as a stream (replayed in four slices) and each micro-batch's "
    "deltas — inserts (+1, +cents), deletes retracting the old row's "
    "contribution via a per-batch keyed join against the static base, "
    "updates contributing (0, new-old) — SUM-merge into the additive "
    "keyed delta store, and the stored MV merges with the accumulated "
    "deltas at read time. Because every delta is "
    "associative, the maintained aggregate equals the full recompute "
    "over the applied state for ANY batch slicing — checked by the "
    "SAME oracle as the batch pipeline_ivm_retraction. This is the "
    "CDC-fed dashboard shape at 100 TB: the fact table is never "
    "re-aggregated, per-batch cost scales with the batch.",
    oracle=_stream_ivm_oracle(),
)
def stream_ivm_retraction_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_stream_kudu_spark.functions.hashing import md5_int32
    from spark_stream_kudu_spark.sources.tables import load_table
    from spark_stream_kudu_spark.streaming.sinks import UpsertParquetSink

    tune_session(spark)
    o = load_table(spark, sf_dir, "orders")
    pct = md5_int32(F.col("o_orderkey").cast("string")) % 100
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    bumped = F.floor(F.col("o_totalprice") * 110 + F.lit(0.5)).cast("long")
    base = _pin(
        o.filter(pct < 80).select(
            F.col("o_orderkey").alias("okey"),
            F.col("o_orderstatus").alias("status"),
            cents.alias("price_cents"),
        )
    )
    changes = o.filter((pct >= 80) | (pct < 20)).select(
        F.col("o_orderkey").alias("okey"),
        F.when(pct >= 80, "I").when(pct < 10, "D").otherwise("U").alias("op"),
        F.col("o_orderstatus").alias("status"),
        F.when(pct >= 80, cents).otherwise(bumped).alias("price_cents"),
    )

    run = new_run_dir("ivm")
    src = stage_mod_slices(changes, run, "okey")

    # The store holds DELTAS ONLY (the sink's replay marker rejects
    # out-of-order batch ids, so the MV seed merges at read time
    # instead of being injected as a fake batch).
    sink = UpsertParquetSink(
        os.path.join(run, "deltas"), key=["status"], combine="sum"
    )
    mv0 = base.groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("dn"),
        F.sum("price_cents").cast("long").alias("dcents"),
    )

    old_prices = base.select("okey", F.col("price_cents").alias("old_cents"))

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        ins = batch_df.filter(F.col("op") == "I").select(
            "status",
            F.lit(1).cast("long").alias("dn"),
            F.col("price_cents").cast("long").alias("dcents"),
        )
        old = batch_df.filter(F.col("op") != "I").join(old_prices, "okey")
        dels = old.filter(F.col("op") == "D").select(
            "status",
            F.lit(-1).cast("long").alias("dn"),
            (-F.col("old_cents")).cast("long").alias("dcents"),
        )
        upd = old.filter(F.col("op") == "U").select(
            "status",
            F.lit(0).cast("long").alias("dn"),
            (F.col("price_cents") - F.col("old_cents")).cast("long").alias("dcents"),
        )
        partial = (
            ins.unionByName(dels)
            .unionByName(upd)
            .groupBy("status")
            .agg(
                F.sum("dn").cast("long").alias("dn"),
                F.sum("dcents").cast("long").alias("dcents"),
            )
        )
        sink(partial, batch_id)

    run_stream(replay_stream(spark, changes.schema, src), run, per_batch)
    deltas = sink.read(spark).select(
        "status", F.col("dn").cast("long"), F.col("dcents").cast("long")
    )
    return (
        mv0.unionByName(deltas)
        .groupBy("status")
        .agg(
            F.sum("dn").cast("long").alias("n_rows"),
            F.sum("dcents").cast("long").alias("total_cents"),
        )
    )


# --------------------------------------------------------------------------
# Streaming exact distinct via bitmap OR — the q179 twin
# --------------------------------------------------------------------------


def _bitmap_oracle() -> str:
    return """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_users
FROM events GROUP BY event_type
"""


@register(
    "stream_bitmap_distinct_e2e",
    "streaming",
    "END-TO-END streaming EXACT distinct counting: each micro-batch "
    "reduces to (event_type, word, mask) bitmap partials (word = "
    "user_id div 63, mask = OR of single-bit words — q179's kernel) "
    "and a bit_or-combine sink bitwise-OR-merges them into the keyed store. "
    "OR is commutative, associative AND idempotent, so the final "
    "popcount equals the one-shot batch distinct count for ANY batch "
    "slicing, merge order, or replay — the exact counterpart of "
    "stream_hll_e2e, and unlike it the oracle checks STRICT equality "
    "with count(DISTINCT), no tolerance flag. State is |types| x "
    "|id-space/63| words; raw user ids never persist past their "
    "micro-batch.",
    oracle=_bitmap_oracle(),
)
def stream_bitmap_distinct_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_stream_kudu_spark.operators.sketches import bitmap_words
    from spark_stream_kudu_spark.streaming.sinks import UpsertParquetSink

    ev = _ev(spark, sf_dir).select("event_id", "event_type", "user_id")
    base = new_run_dir("bitmap")
    src = stage_mod_slices(ev, base, "event_id")

    sink = UpsertParquetSink(
        os.path.join(base, "words"), key=["event_type", "word"], combine="bit_or"
    )

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        sink(bitmap_words(batch_df), batch_id)

    run_stream(replay_stream(spark, ev.schema, src), base, per_batch)
    store = sink.read(spark)
    return store.groupBy("event_type").agg(
        F.sum(F.bit_count("mask")).cast("long").alias("distinct_users")
    )


# --------------------------------------------------------------------------
# Streaming dense row-id assignment — the q181 twin
# --------------------------------------------------------------------------


def _rowid_oracle() -> str:
    return """
SELECT event_id,
       CAST(row_number() OVER (ORDER BY event_id % 4, ts, event_id) - 1
            AS BIGINT) AS rowid
FROM events
"""


@register(
    "stream_global_rowid_e2e",
    "streaming",
    "END-TO-END streaming dense id assignment: each micro-batch ranks "
    "its rows with the SAME two-phase kernel as q181 (day buckets, "
    "(ts, event_id) order — no single-partition sort even when one "
    "batch is huge) and shifts by the store's current size, so ids "
    "stay contiguous 0..n-1 across the whole ingest; the idempotent "
    "batch marker makes replays no-ops, so a restart never burns or "
    "duplicates ids. This is how training-example ids / surrogate "
    "keys are minted by a continuous ingest pipeline. The oracle "
    "reproduces the full assignment as one flat rank over (slice, ts, "
    "event_id) — batch boundaries are the staged event_id%4 slices, "
    "so the streaming result is exactly SQL-expressible and "
    "hash-checked, not just counted.",
    oracle=_rowid_oracle(),
)
def stream_global_rowid_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_stream_kudu_spark.operators.layout import two_phase_rowid
    from spark_stream_kudu_spark.streaming.sinks import UpsertParquetSink

    ev = _ev(spark, sf_dir).select("event_id", "ts", "user_id")
    base = new_run_dir("rowid")
    src = stage_mod_slices(ev, base, "event_id")

    sink = UpsertParquetSink(os.path.join(base, "ids"), key="event_id")

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        # Store size from the parquet footers (round-12): the old
        # current.count() paid one scan job per batch for a number the
        # footers hold. The store's key is event_id, so its row count
        # IS the number of ids minted so far.
        offset = sink.num_rows() or 0
        ids = two_phase_rowid(
            batch_df.withColumn("bucket", F.col("ts").cast("date")),
            "bucket",
            ["ts", "event_id"],
        ).select(
            "event_id", (F.col("rowid") + F.lit(offset)).cast("long").alias("rowid")
        )
        sink(ids, batch_id)

    run_stream(replay_stream(spark, ev.schema, src), base, per_batch)
    return sink.read(spark).select("event_id", "rowid")


# --------------------------------------------------------------------------
# Streaming seasonal decomposition — the q183 twin over a continuous rollup
# --------------------------------------------------------------------------


def _seasonal_oracle() -> str:
    from spark_stream_kudu_spark.operators.series import _SEAS_ORACLE

    return _SEAS_ORACLE


@register(
    "stream_seasonal_e2e",
    "streaming",
    "END-TO-END streaming seasonal decomposition: each micro-batch "
    "reduces to per-day partial counts that SUM-merge into the keyed "
    "daily store (sum-combine sink — addition IS the daily-rollup "
    "merge, so the store equals the one-shot series for any batch "
    "slicing, replay-guarded by the batch marker), and the finalize "
    "runs q183's integer-exact trend/seasonal/residual decomposition "
    "over the store. The continuous-aggregate pattern for series "
    "analytics: state is |days| rows FOREVER (calendar-bounded), raw "
    "events are never rescanned, and re-decomposing after each day's "
    "ingest costs a |days|-row window, not an event-stream pass. Same "
    "oracle as q183 — the streaming result is value-hashed, not "
    "counted.",
    oracle=_seasonal_oracle(),
)
def stream_seasonal_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_stream_kudu_spark.operators.series import (
        seasonal_decompose_from_daily,
    )
    from spark_stream_kudu_spark.streaming.sinks import UpsertParquetSink

    ev = _ev(spark, sf_dir).select("event_id", "ts")
    base = new_run_dir("seas")
    src = stage_mod_slices(ev, base, "event_id")

    sink = UpsertParquetSink(
        os.path.join(base, "daily"), key="day", combine="sum"
    )

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        partial = batch_df.groupBy(
            F.col("ts").cast("date").alias("day")
        ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        sink(partial, batch_id)

    run_stream(replay_stream(spark, ev.schema, src), base, per_batch)
    daily = sink.read(spark).select(
        "day", F.col("cnt").cast("long").alias("cnt")
    )
    return seasonal_decompose_from_daily(daily)


# --------------------------------------------------------------------------
# Streaming incremental semantic dedup — continuous-crawl SemDeDup
# --------------------------------------------------------------------------


def _sem_stream_oracle() -> str:
    # The accumulated decision vector provably equals the ONE-SHOT batch
    # SemDeDup decision (dedup.py dedup_semantic): the dominated rule is
    # arrival-order-independent (each unordered within-cluster pair
    # credits its lower-priority member exactly once, in the LATER
    # arrival's batch), and the dominator-count store is additive — so
    # the streaming twin shares the batch oracle verbatim.
    from spark_stream_kudu_spark.operators.dedup import _sem_oracle

    return _sem_oracle()


@register(
    "stream_semantic_dedup_e2e",
    "streaming",
    "END-TO-END continuous-crawl SemDeDup: embedding vectors arrive as "
    "4 micro-batches; each batch assigns against the FIXED trained "
    "codebook (broadcast literals — training is the index-build step, "
    "exactly as in the batch op), new-vs-store and new-vs-new "
    "within-cluster pairs are tested with the q8 exact-rational cosine "
    "rule, and each qualifying unordered pair credits its "
    "LOWER-priority member (+1) into an additive dominator store — a "
    "later arrival can therefore flip an EXISTING member to pruned, "
    "which last-writer-wins pair stores cannot express. "
    "Existing-vs-existing pairs are never re-enumerated, so per-batch "
    "cost scales with the batch, not the corpus. The final decision "
    "vector provably equals the one-shot batch SemDeDup and shares its "
    "oracle verbatim.",
    oracle=_sem_stream_oracle(),
)
def stream_semantic_dedup_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-view-maintenance form of dedup.py dedup_semantic.

    Correctness argument: priority (cdist DESC, vec_id ASC) is a total
    order independent of arrival; for every unordered same-cluster pair
    (a, b), exactly one member is lower-priority, and the pair is
    enumerated exactly once — in the later arrival's batch (new-vs-store
    covers cross-batch pairs in both domination directions, new-vs-new
    covers same-batch pairs once via id ordering). n_dominators is a sum
    of those single credits, so the additive store converges to the
    batch op's counts for ANY batch slicing; replay is idempotent via
    the sink's batch marker. At 100 TB the per-batch joins are cid-keyed
    against only the batch's clusters; the member store is the persisted
    cluster-membership table a production SemDeDup index maintains."""
    from spark_stream_kudu_spark.operators.dedup import (
        _SEM_N8_BOUND,
        _SEM_SCALE,
    )
    from spark_stream_kudu_spark.operators.similarity import (
        _km_quantize,
        km_assign_dist,
        trained_codebook,
    )
    from spark_stream_kudu_spark.streaming.sinks import UpsertParquetSink, upsert_stores

    tune_session(spark)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = trained_codebook(spark, sf_dir)
    base = new_run_dir("semd")
    src = stage_mod_slices(emb, base, "vec_id")

    member_store = UpsertParquetSink(os.path.join(base, "members"), key=["vec_id"])
    dom_store = UpsertParquetSink(
        os.path.join(base, "doms"), key=["vec_id"], combine="sum"
    )

    def _prep(batch_df: DataFrame) -> DataFrame:
        n8_guarded = F.expr(
            f"COALESCE(CAST(assert_true(n8 <= {_SEM_N8_BOUND}, "
            "'stream_semantic_dedup_e2e: embedding magnitude violates the "
            f"q8 overflow contract (n8 > 2^26)') AS BIGINT), n8)"
        )
        return (
            km_assign_dist(_km_quantize(batch_df), cents)
            .select(
                "vec_id",
                F.col("cid").cast("long").alias("cluster_id"),
                F.col("cdist").alias("cdist_q20"),
                F.transform(
                    "embedding",
                    lambda x: F.floor(x * F.lit(float(_SEM_SCALE))).cast("long"),
                ).alias("x8"),
            )
            .withColumn(
                "n8",
                F.aggregate(
                    F.transform("x8", lambda v: v * v),
                    F.lit(0).cast("long"),
                    lambda acc, v: acc + v,
                ),
            )
            .withColumn("n8", n8_guarded)
        )

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # Per-micro-batch pin: executor-local by design (see the
        # incremental-LSH twin above — replayable source, no leak).
        # LAZY (round-11): semantic_batch_credits' size-gate count is
        # the batch's first action and materializes the cut — the eager
        # form paid one extra blocking job per micro-batch.
        new = _prep(batch_df).localCheckpoint(eager=False)
        # The credits partial is handed to the dominator store UNCUT:
        # an aggregate store lazy-cuts its input itself (sinks.py
        # ``_cut_input``). One member-store read per batch: the
        # credits' ``prev`` and the upsert-merge's ``current`` are the
        # same version (nothing writes the member store in between), so
        # the pre-read DataFrame is handed to the sink.
        prev = member_store.read(spark)
        partial = semantic_batch_credits(spark, new, prev)
        # The credits read the member store (via ``prev``), so the
        # member store commits last.
        upsert_stores(
            batch_id, (dom_store, partial), (member_store, new, prev)
        )

    run_stream(replay_stream(spark, emb.schema, src), base, per_batch)
    from spark_stream_kudu_spark.functions.joins import gated_broadcast

    members = member_store.read(spark)
    doms = dom_store.read(spark)
    out = members.select("vec_id", "cluster_id", "cdist_q20")
    if doms is not None:
        # Row bound for the gate from the store's parquet footers
        # (round-12): the old members.count() paid one full scan job
        # for a number the footers already hold.
        out = out.join(
            gated_broadcast(
                doms.select("vec_id", "n_dominators"),
                member_store.num_rows(),
                spark,
                bytes_per_row=16,
            ),
            "vec_id",
            "left",
        )
    else:
        out = out.withColumn("n_dominators", F.lit(None).cast("long"))
    return out.select(
        "vec_id",
        "cluster_id",
        "cdist_q20",
        F.coalesce("n_dominators", F.lit(0).cast("long")).alias("n_dominators"),
        (F.coalesce("n_dominators", F.lit(0).cast("long")) > 0)
        .cast("long")
        .alias("pruned"),
    )


def _sem_side(df: DataFrame, tag: str) -> DataFrame:
    return df.select(
        F.col("vec_id").alias(f"{tag}_id"),
        F.col("cluster_id").alias(f"{tag}_cid"),
        F.col("cdist_q20").alias(f"{tag}_d"),
        F.col("x8").alias(f"{tag}_x8"),
        F.col("n8").alias(f"{tag}_n8"),
    )


def _sem_pair_credits(pairs: DataFrame) -> DataFrame:
    """One (+1) credit to the LOWER-priority member of each qualifying
    pair; columns a_*/b_* per side."""
    from spark_stream_kudu_spark.operators.dedup import (
        _SEM_TAU_DEN,
        _SEM_TAU_NUM,
    )

    dot = F.aggregate(
        F.zip_with("a_x8", "b_x8", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    a_wins = (F.col("a_d") > F.col("b_d")) | (
        (F.col("a_d") == F.col("b_d")) & (F.col("a_id") < F.col("b_id"))
    )
    return (
        pairs.withColumn("dot", dot)
        .filter(
            (F.col("dot") > 0)
            & (
                F.lit(_SEM_TAU_DEN * _SEM_TAU_DEN)
                * F.col("dot")
                * F.col("dot")
                >= F.lit(_SEM_TAU_NUM * _SEM_TAU_NUM)
                * F.col("a_n8")
                * F.col("b_n8")
            )
        )
        .select(F.when(a_wins, F.col("b_id")).otherwise(F.col("a_id")).alias("vec_id"))
    )


def semantic_batch_credits(
    spark: SparkSession, new: DataFrame, prev: DataFrame | None
) -> DataFrame:
    """One micro-batch's dominator-credit partials for the incremental
    SemDeDup store: each qualifying unordered within-cluster pair is
    enumerated exactly once — new-vs-new via id ordering, new-vs-prev
    in both domination directions — and credits its LOWER-priority
    member (+1). Summing these partials over ANY slicing of the corpus
    into arrival batches reproduces the one-shot dominated-rule counts
    (dedup.py semantic_decision): priority is an arrival-independent
    total order, and every unordered pair lands in exactly the later
    member's batch. Hypothesis-tested against the one-shot kernel over
    arbitrary member tables and arbitrary slicings in
    tests/test_properties.py.

    ``new`` and ``prev`` are member tables (vec_id, cluster_id,
    cdist_q20, x8, n8); ``prev`` is None on the first batch. The batch
    side is size-gated: micro-batches broadcast against both the
    within-batch side and the member store; a degenerate giant batch
    falls back to a shuffled hash join."""
    from spark_stream_kudu_spark.functions.joins import gated_broadcast

    a = gated_broadcast(
        _sem_side(new, "a"), new.count(), spark, bytes_per_row=1200
    )
    within = a.join(
        _sem_side(new, "b"),
        (F.col("a_cid") == F.col("b_cid")) & (F.col("a_id") < F.col("b_id")),
    )
    credits = _sem_pair_credits(within)
    if prev is not None:
        cross = a.join(_sem_side(prev, "b"), F.col("a_cid") == F.col("b_cid"))
        credits = credits.unionByName(_sem_pair_credits(cross))
    return credits.groupBy("vec_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_dominators")
    )


# --------------------------------------------------------------------------
# Rate-limit + offset-resume semantics (the Kafka option contract on the
# file source)
# --------------------------------------------------------------------------

_RL_SLICES = 6
_RL_INITIAL = 4  # slices staged before the first run; the rest resume

_RATE_LIMIT_ORACLE = f"""
SELECT CAST(event_id % {_RL_SLICES} AS BIGINT) AS slice_id,
       CASE WHEN event_id % {_RL_SLICES} < {_RL_INITIAL}
            THEN 'initial' ELSE 'resume' END AS phase,
       CAST(event_id % {_RL_SLICES} AS BIGINT) AS batch_seq,
       CAST(count(*) AS BIGINT) AS n_rows
FROM events GROUP BY 1, 2, 3
"""


@register(
    "stream_rate_limit_resume_e2e",
    "streaming",
    "END-TO-END per-trigger rate limiting + checkpointed offset resume "
    "— the file-source twin of the Kafka front door's option contract "
    "(maxOffsetsPerTrigger caps a trigger's admission; group offsets "
    "make a restart consume exactly the unread tail; "
    "kafka_to_kudu.py:19's startingOffsets picks the initial position), "
    "exercised on the source the sandbox CAN run: events split into "
    f"{_RL_SLICES} mod-slices, the first {_RL_INITIAL} staged and "
    "streamed with maxFilesPerTrigger=1 (one slice per micro-batch — "
    "the admission cap), then the REMAINING slices land and the stream "
    "RESTARTS FROM THE SAME CHECKPOINT: the source log must admit only "
    "the unseen files and keep numbering batches where it left off. "
    "The audit table pins all three contracts at once — each batch "
    "holds exactly ONE slice (cap respected; asserted loudly in the "
    "batch hook), batch_seq equals slice_id across BOTH runs (mtime "
    "admission order + offset-log continuation: a resume that re-read "
    "from the beginning would repeat slices and shift every seq), and "
    "per-slice row counts match the batch oracle exactly (nothing "
    "dropped, nothing reprocessed). The |batches|-row audit is the "
    "only driver-side data; slices stage executor-side in one scan.",
    oracle=_RATE_LIMIT_ORACLE,
)
def stream_rate_limit_resume_e2e(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil

    ev = _ev(spark, sf_dir).select("event_id", "ts", "event_type", "value")
    base = new_run_dir("ratelim")
    src = stage_mod_slices(ev, base, "event_id", n=_RL_SLICES)
    # Hold back the tail slices: they "arrive" between the two runs.
    held = os.path.join(base, "held")
    os.makedirs(held, exist_ok=True)
    for k in range(_RL_INITIAL, _RL_SLICES):
        shutil.move(
            os.path.join(src, f"batch_{k}.parquet"),
            os.path.join(held, f"batch_{k}.parquet"),
        )

    audit: list[tuple[int, int, str, int]] = []

    def make_hook(phase: str):
        def per_batch(batch_df: DataFrame, batch_id: int) -> None:
            row = batch_df.agg(
                F.count(F.lit(1)).alias("n"),
                F.min(F.pmod(F.col("event_id"), F.lit(_RL_SLICES))).alias("lo"),
                F.max(F.pmod(F.col("event_id"), F.lit(_RL_SLICES))).alias("hi"),
            ).collect()[0]
            if row["n"] == 0:  # O7 empty-batch guard
                return
            if row["lo"] != row["hi"]:
                raise AssertionError(
                    f"rate limit violated: batch {batch_id} mixes "
                    f"slices {row['lo']}..{row['hi']}"
                )
            # The oracle's batch_seq == slice_id contract leans on two
            # file-source behaviors: no batch id is spent on an empty
            # micro-batch, and files admit in staged-mtime order. If a
            # Spark upgrade shifts either (e.g. an empty batch consumes
            # an id), fail HERE naming the assumption rather than as a
            # confusing downstream oracle hash mismatch.
            if int(row["lo"]) != batch_id:
                raise AssertionError(
                    f"batch-id/slice drift: batch {batch_id} carries "
                    f"slice {row['lo']} — the file source allocated ids "
                    "to empty batches or admitted files out of mtime "
                    "order; the batch_seq == slice_id oracle contract "
                    "no longer holds on this Spark version"
                )
            audit.append((batch_id, int(row["lo"]), phase, int(row["n"])))

        return per_batch

    def run(phase: str) -> None:
        run_stream(replay_stream(spark, ev.schema, src), base, make_hook(phase))

    run("initial")
    for k in range(_RL_INITIAL, _RL_SLICES):
        # Preserved mtimes keep the staging convention's admission order.
        shutil.move(
            os.path.join(held, f"batch_{k}.parquet"),
            os.path.join(src, f"batch_{k}.parquet"),
        )
    run("resume")
    return spark.createDataFrame(
        audit, "batch_seq long, slice_id long, phase string, n_rows long"
    ).select("slice_id", "phase", "batch_seq", "n_rows")
