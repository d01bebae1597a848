"""Streaming-surface registered queries.

Two kinds:

- Batch-checkable streaming *semantics*: the reference's traffic
  aggregation (O9-O12), CSV parse (O5), tumbling/sliding/session
  event-time windows, and the upsert merge contract (O13-O15) — each
  expressed over the ``events`` fixture so the DuckDB oracle can verify
  exact values.
- The *actual pipeline*: ``stream_traffic_pipeline`` runs a real
  Structured Streaming query (file-replayed micro-batches ->
  foreachBatch upsert sink) and returns the final keyed table; the
  batch stamp is content-derived (max measurement_time) so even the
  end-to-end streaming run is oracle-checkable.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_stream_kudu_spark.functions.rounding import fround
from spark_stream_kudu_spark.registry import register
from spark_stream_kudu_spark.sources.tables import load_table
from spark_stream_kudu_spark.session import tune_session
from spark_stream_kudu_spark.streaming.sinks import merge_by_key
from spark_stream_kudu_spark.streaming.workdir import new_run_dir
from spark_stream_kudu_spark.streaming.traffic import (
    TRAFFIC_RAW_SCHEMA,
    parse_traffic,
    read_traffic_conditions,
    run_traffic_pipeline,
)



def _ev(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    return load_table(spark, sf_dir, "events")


# --------------------------------------------------------------------------
# O5 parity: CSV parse as native expressions (round-tripped through strings)
# --------------------------------------------------------------------------

_PARSE_ORACLE = """
WITH raw AS (
  SELECT concat(CAST(epoch_ms(ts) AS VARCHAR), ',',
                CAST(CAST(floor(value) AS INT) AS VARCHAR),
                CASE WHEN event_id % 3 = 0 THEN ' ' ELSE '' END) AS value
  FROM events
)
SELECT CAST(trim(split_part(value, ',', 1)) AS BIGINT) AS measurement_time,
       CAST(trim(split_part(value, ',', 2)) AS INT)    AS number_of_vehicles
FROM raw
"""


@register(
    "traffic_parse_csv",
    "streaming",
    "O5 CSV parse (split + trim + cast) as pure Catalyst expressions, including the "
    "trailing-whitespace defense the reference carries (rstrip kafka_to_kudu.py:25, "
    "trim KafkaToKuduJava.java:91); input synthesized from events, round-tripped.",
    oracle=_PARSE_ORACLE,
)
def traffic_parse_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    raw = ev.select(
        F.concat(
            F.unix_millis("ts").cast("string"),
            F.lit(","),
            F.floor("value").cast("int").cast("string"),
            F.when(F.col("event_id") % 3 == 0, F.lit(" ")).otherwise(F.lit("")),
        ).alias("value")
    )
    return parse_traffic(raw)


# --------------------------------------------------------------------------
# Event-time windows: tumbling / sliding / session
# --------------------------------------------------------------------------

_Q30_ORACLE = """
SELECT epoch_ms(time_bucket(INTERVAL '1 hour', ts)) AS window_start_ms,
       event_type,
       count(*)                                     AS n_events,
       floor((sum(value)) * 100 + 0.5) / 100        AS sum_value
FROM events
GROUP BY 1, 2
"""


@register(
    "q30_tumbling_window",
    "streaming",
    "Tumbling 1-hour event-time window x event_type — F.window() in batch mode; "
    "identical plan shape to the streaming incremental aggregation.",
    oracle=_Q30_ORACLE,
    bench=True,
)
def q30_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            fround(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.unix_millis(F.col("w.start")).alias("window_start_ms"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


_Q32_ORACLE = """
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
    "q32_session_window",
    "streaming",
    "Session windows (30-min gap) per user — F.session_window; oracle reproduces the "
    "merge semantics with a gaps-and-islands construction.",
    oracle=_Q32_ORACLE,
)
def q32_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
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


# --------------------------------------------------------------------------
# O13-O15: the upsert contract as a checkable merge
# --------------------------------------------------------------------------

_UPSERT_ORACLE = """
WITH b1 AS (
  SELECT user_id, count(*) AS n_events,
         floor((sum(value)) * 100 + 0.5) / 100 AS sum_value,
         1 AS batch
  FROM events WHERE event_id % 2 = 0 GROUP BY user_id
),
b2 AS (
  SELECT user_id, count(*) AS n_events,
         floor((sum(value)) * 100 + 0.5) / 100 AS sum_value,
         2 AS batch
  FROM events WHERE event_id % 2 = 1 GROUP BY user_id
),
u AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2),
r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY batch DESC) AS rn FROM u)
SELECT user_id, n_events, sum_value, batch FROM r WHERE rn = 1
"""


@register(
    "streaming_upsert_merge",
    "streaming",
    "Keyed last-writer-wins upsert (the Kudu-upsert contract, "
    "KafkaToKuduJava.java:113-119): batch 2 replaces batch 1 rows per key, "
    "batch-1-only keys survive.",
    oracle=_UPSERT_ORACLE,
)
def streaming_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)

    def batch(parity: int, batch_no: int) -> DataFrame:
        return (
            ev.filter(F.col("event_id") % 2 == parity)
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                fround(F.sum("value"), 2).alias("sum_value"),
            )
            .withColumn("batch", F.lit(batch_no))
        )

    return merge_by_key(batch(0, 1), batch(1, 2), key="user_id")


# --------------------------------------------------------------------------
# The real pipeline, end to end (actual StreamingQuery + upsert sink)
# --------------------------------------------------------------------------

_PIPELINE_ORACLE = """
WITH b AS (
  SELECT event_id % 4 AS k,
         epoch_ms(ts) AS mt,
         CAST(floor(value) AS INT) AS veh
  FROM events
)
SELECT max(mt)                                                    AS as_of_time,
       floor((sum(veh) * 1.0 / count(*)) * 100 + 0.5) / 100       AS avg_num_veh,
       min(veh)                                                   AS min_num_veh,
       max(veh)                                                   AS max_num_veh,
       min(mt)                                                    AS first_meas_time,
       max(mt)                                                    AS last_meas_time
FROM b
GROUP BY k
"""


@register(
    "stream_traffic_pipeline",
    "streaming",
    "END-TO-END Structured Streaming run of the reference pipeline: events replayed "
    "as 4 CSV micro-batches (file source, availableNow, maxFilesPerTrigger=1) -> "
    "native parse -> per-batch global agg (parity mode) -> foreachBatch keyed upsert "
    "sink -> final traffic_conditions table. Stamp is content-derived "
    "(max measurement_time) so the result is batch-order-independent and "
    "oracle-checkable.",
    oracle=_PIPELINE_ORACLE,
)
def stream_traffic_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    base = new_run_dir("traffic")
    src_dir = os.path.join(base, "csv")
    sink_path = os.path.join(base, "sink")
    checkpoint = os.path.join(base, "ckpt")
    os.makedirs(src_dir, exist_ok=True)

    # Replay fixture: one CSV file per event_id % 4 residue class, one
    # micro-batch each, records formatted exactly like the reference's
    # producer (README.md:23: "<epoch_millis>,<count>"). Split
    # executor-side in one scan (the workdir.stage_mod_slices shape:
    # each class lands in one task, so its directory holds one part
    # file). An empty class writes no directory and so no file, which
    # would otherwise hold one empty record -> an all-null parsed row
    # -> a null-keyed upsert.
    stage = os.path.join(base, "stage_csv")
    (
        ev.select(
            (F.col("event_id") % 4).alias("_b"),
            F.concat(
                F.unix_millis("ts").cast("string"),
                F.lit(","),
                F.floor("value").cast("int").cast("string"),
            ).alias("value"),
        )
        .repartition(4, "_b")
        .write.partitionBy("_b")
        .text(stage)
    )
    for part in glob.glob(os.path.join(stage, "_b=*", "part-*")):
        k = os.path.basename(os.path.dirname(part)).removeprefix("_b=")
        shutil.move(part, os.path.join(src_dir, f"batch_{k}.csv"))

    raw_stream = (
        spark.readStream.schema(TRAFFIC_RAW_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .text(src_dir)
    )
    q = run_traffic_pipeline(
        raw_stream,
        sink_path=sink_path,
        checkpoint=checkpoint,
        mode="parity",
        as_of_time_fn="content",  # stamp = max(measurement_time) of the batch
    )
    q.awaitTermination()
    return read_traffic_conditions(spark, sink_path).select(
        "as_of_time",
        "avg_num_veh",
        "min_num_veh",
        "max_num_veh",
        "first_meas_time",
        "last_meas_time",
    )
