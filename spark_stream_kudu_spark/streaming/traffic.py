"""The traffic pipeline — Structured-Streaming re-expression of the
reference application (SURVEY.md §2.1, operators O1-O19).

Reference shape (all three languages identical): Kafka topic
``traffic`` of CSV strings ``"<epoch_millis>,<vehicle_count>"``
(README.md:23) -> 5 s micro-batches (kafka_to_kudu.py:17) -> 60 s
processing-time window (py:20) -> one global SQL aggregation
(py:32-38) -> Kudu upsert keyed by the wall-clock stamp ``as_of_time``
(py:40-53, ddl/create_impala_kudu_table.sql:12).

This engine's pipeline (SURVEY.md §3.4): ``readStream`` -> native
column-expression parse (no Python lambda, unlike py:25) ->
**event-time** sliding window with watermark (the semantic upgrade
documented in SURVEY.md §2.3.1) -> incremental aggregation ->
``foreachBatch`` keyed upsert. A parity mode reproduces the
reference's exact output contract (one row per batch, global agg,
injected stamp) for deterministic tests.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_stream_kudu_spark.streaming.sinks import UpsertParquetSink

# Input contract (FIXTURES.md A1): a single string column, one CSV
# record per row, exactly what the Kafka value deserializes to
# (StringDeserializer, KafkaToKuduJava.java:62-63).
TRAFFIC_RAW_SCHEMA = T.StructType([T.StructField("value", T.StringType(), True)])

# Output contract == ddl/create_impala_kudu_table.sql:4-13.
TRAFFIC_CONDITIONS_COLUMNS = [
    "as_of_time",
    "avg_num_veh",
    "min_num_veh",
    "max_num_veh",
    "first_meas_time",
    "last_meas_time",
]


KAFKA_FORMAT = "kafka"
_KAFKA_PROBE_CLASS = "org.apache.spark.sql.kafka010.KafkaSourceProvider"


def kafka_available(spark: SparkSession) -> bool:
    """True when the spark-sql-kafka datasource jar is on the classpath
    (``--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<ver>``)."""
    try:
        spark._jvm.java.lang.Class.forName(_KAFKA_PROBE_CLASS)  # type: ignore[union-attr]
        return True
    except Exception:
        return False


def kafka_source_options(
    brokers: str,
    topic: str = "traffic",
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = 100_000,
    fail_on_data_loss: bool = False,
) -> dict[str, str]:
    """The deployment option dict for the reference's front door (O1).

    Mirrors the reference's direct-stream config (broker list + topic,
    kafka_to_kudu.py:19; README.md:18-23 runs it against a live topic)
    plus the production knobs Structured Streaming adds:

    - ``startingOffsets`` — where a fresh checkpoint begins ("latest"
      matches the DStream default; "earliest" for backfill).
    - ``maxOffsetsPerTrigger`` — per-batch record cap, bounding batch
      size during catch-up so a restart can't produce one giant batch.
    - ``failOnDataLoss`` — false tolerates aged-out offsets (retention
      expiry) instead of killing the query.
    """
    opts = {
        "kafka.bootstrap.servers": brokers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": str(fail_on_data_loss).lower(),
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def kafka_traffic_source(
    spark: SparkSession, brokers: str, topic: str = "traffic", **kwargs
) -> DataFrame:
    """O1: the Kafka scan (py:19, java:65-67, scala:28-29), Spark-first.

    Jar-gated like the Kudu sink: without the spark-sql-kafka package
    this raises a RuntimeError naming the missing dependency instead of
    surfacing an opaque AnalysisException mid-plan. The test suite uses
    the file-source replay instead (same downstream plan).
    """
    if not kafka_available(spark):
        raise RuntimeError(
            "spark-sql-kafka datasource not on the classpath; submit with "
            "--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark version>"
        )
    return (
        spark.readStream.format(KAFKA_FORMAT)
        .options(**kafka_source_options(brokers, topic, **kwargs))
        .load()
        .selectExpr("CAST(value AS STRING) AS value")  # O4 KV projection (java:69-75)
    )


def parse_traffic(raw: DataFrame) -> DataFrame:
    """O5/O6: CSV split + typed cast, as native Catalyst expressions.

    The reference does this with per-record lambdas shipped to Python
    workers (kafka_to_kudu.py:25) or anonymous Functions (java:85-95);
    here it's split/trim/cast expressions — JVM-side, codegen'd, no
    Python boundary (SURVEY.md §3.1 note). Handles the trailing
    whitespace the reference defends against (rstrip py:25, trim
    java:91).
    """
    parts = F.split(F.col("value"), ",")
    return raw.select(
        F.trim(parts.getItem(0)).cast("long").alias("measurement_time"),
        F.trim(parts.getItem(1)).cast("int").alias("number_of_vehicles"),
    )


def traffic_aggregate(parsed: DataFrame, as_of_time: F.Column) -> DataFrame:
    """O9-O12: the reference's one SQL aggregation (py:32-38).

    ``as_of_time`` is injected (a literal or derived column) rather
    than ``UNIX_TIMESTAMP()*1000`` so outputs are deterministic
    (SURVEY.md §2.3.2); production callers pass
    ``F.unix_timestamp()*1000`` for exact reference behavior.
    """
    from spark_stream_kudu_spark.functions.rounding import fround

    # ROUND(AVG(x), 2) per the reference (py:33) — computed as
    # sum/count with deterministic floor-rounding (sum of ints is
    # exact, so this is cross-engine bit-stable; see functions.rounding).
    avg_expr = fround(
        F.sum("number_of_vehicles") * F.lit(1.0) / F.count(F.lit(1)), 2
    )
    return parsed.agg(
        as_of_time.cast("long").alias("as_of_time"),
        avg_expr.alias("avg_num_veh"),
        F.min("number_of_vehicles").alias("min_num_veh"),
        F.max("number_of_vehicles").alias("max_num_veh"),
        F.min("measurement_time").alias("first_meas_time"),
        F.max("measurement_time").alias("last_meas_time"),
    ).select(*TRAFFIC_CONDITIONS_COLUMNS)


def windowed_traffic_aggregate(
    parsed_stream: DataFrame,
    window: str = "60 seconds",
    slide: str = "5 seconds",
    watermark: str = "2 minutes",
) -> DataFrame:
    """O3 upgraded: event-time sliding window + watermark.

    The reference's ``dstream.window(60)`` (py:20) re-aggregates the
    trailing 12 micro-batches by *arrival* time, O(window) per batch.
    Structured Streaming windows ``measurement_time`` (event time) and
    aggregates incrementally in the state store — strictly less work
    per batch and well-defined late-data semantics (SURVEY.md §2.3.1/3).
    The window *end* (epoch millis) is the natural ``as_of_time`` key:
    one output row per window, last-writer-wins as counts accumulate.
    """
    with_ts = parsed_stream.withColumn(
        "meas_ts", F.timestamp_millis(F.col("measurement_time"))
    ).withWatermark("meas_ts", watermark)
    win = F.window("meas_ts", window, slide)
    return (
        with_ts.groupBy(win)
        .agg(
            F.round(F.avg("number_of_vehicles"), 2).alias("avg_num_veh"),
            F.min("number_of_vehicles").alias("min_num_veh"),
            F.max("number_of_vehicles").alias("max_num_veh"),
            F.min("measurement_time").alias("first_meas_time"),
            F.max("measurement_time").alias("last_meas_time"),
        )
        .select(
            F.unix_millis(F.col("window.end")).alias("as_of_time"),
            "avg_num_veh",
            "min_num_veh",
            "max_num_veh",
            "first_meas_time",
            "last_meas_time",
        )
    )


def run_traffic_pipeline(
    raw_stream: DataFrame,
    sink_path: str,
    checkpoint: str,
    mode: str = "event_time",
    as_of_time_fn: Callable[[int], int] | str | None = None,
    trigger_available_now: bool = True,
):
    """End-to-end O1->O19: parse -> window/agg -> keyed upsert sink.

    ``mode='event_time'`` (default): incremental windowed aggregation,
    upsert keyed by window end.
    ``mode='parity'``: reproduces the reference batch-for-batch — one
    global agg row per micro-batch inside ``foreachBatch``, stamped by
    ``as_of_time_fn(batch_id)`` (tests) or wall clock (production),
    exactly the reference's per-batch ``process()`` (py:22-53).

    Returns the started StreamingQuery (O19: caller awaits, py:57-58).
    """
    parsed = parse_traffic(raw_stream)
    sink = UpsertParquetSink(sink_path, key="as_of_time")

    if mode == "event_time":
        agg = windowed_traffic_aggregate(parsed)
        writer = agg.writeStream.outputMode("update").foreachBatch(sink)
    elif mode == "parity":

        def process_batch(batch_df: DataFrame, batch_id: int) -> None:
            if batch_df.isEmpty():  # O7 empty-batch guard (py:23)
                return
            if as_of_time_fn == "content":
                # Content-derived stamp: deterministic and independent
                # of batch arrival order (used by the oracle-checked
                # end-to-end query).
                stamp = F.max("measurement_time")
            elif as_of_time_fn is not None:
                stamp = F.lit(as_of_time_fn(batch_id))
            else:
                # Reference stamp: UNIX_TIMESTAMP()*1000, second-granular
                # epoch millis (py:32). Same-second batches collide on
                # the key and last-writer-wins, per ddl PK semantics.
                stamp = F.unix_timestamp() * 1000
            result = traffic_aggregate(batch_df, stamp)
            sink(result, batch_id)

        writer = parsed.writeStream.outputMode("append").foreachBatch(process_batch)
    else:
        raise ValueError(f"unknown mode {mode!r}")

    writer = writer.option("checkpointLocation", checkpoint)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="5 seconds")  # O2 (py:17)
    return writer.start()


def read_traffic_conditions(spark: SparkSession, sink_path: str) -> DataFrame:
    """O16/O17: consumer-side scan + sort (README.md:40)."""
    sink = UpsertParquetSink(sink_path, key="as_of_time")
    df = sink.read(spark)
    if df is None:
        raise FileNotFoundError(f"no traffic_conditions table at {sink_path}")
    return df.orderBy("as_of_time")
