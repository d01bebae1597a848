"""Streaming drift monitoring — the streaming lifts of ``q125_psi_drift``
and ``q127_ks_drift``.

The batch PSI reduces the event stream to a (event_type, period, bin)
count grid before any float math; those counts are additive, so the
operator lifts directly onto the incremental-rollup pattern
(streaming/extensions.py's sum-combine sink): each micro-batch
aggregates to count partials, the sink SUM-merges them into the keyed
store, and PSI finalizes at read time over the tiny stored grid with
the *same* finalize code the batch query uses (operators/drift.py
``psi_from_counts``). Additive merge is commutative/associative and the
replay marker makes it idempotent, so the final PSI is independent of
batch slicing — which is exactly what the shared batch oracle checks.

This is the production shape of a drift monitor at 100 TB: the store
holds |types| x |bins| x 2 integers regardless of stream age, the
reference half freezes once its period passes, and every new batch
touches only its own partial counts — raw events are never rescanned.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_stream_kudu_spark.operators.drift import (
    _CHISQ_ORACLE,
    _DRIFT_SPLIT,
    _KS_ORACLE,
    _PSI_ORACLE,
    chisq_from_counts,
    ks_from_value_counts,
    ks_tag_columns,
    psi_from_counts,
    psi_tag_columns,
)
from spark_stream_kudu_spark.operators.series import _HOLT_ORACLE
from spark_stream_kudu_spark.registry import register
from spark_stream_kudu_spark.session import tune_session
from spark_stream_kudu_spark.sources.tables import load_table
from spark_stream_kudu_spark.streaming.workdir import (
    new_run_dir,
    replay_stream,
    run_stream,
    stage_mod_slices,
    stage_time_split_batches,
)


@register(
    "stream_psi_drift_e2e",
    "streaming",
    "END-TO-END streaming drift monitor: events replayed as 4 parquet "
    "micro-batches; each batch reduces to (event_type, period, bin) count "
    "partials — the same canonical tagging expression as batch q125 — that "
    "a sum-combine sink SUM-merges into the keyed store; PSI finalizes "
    "at read time over the stored grid with the batch query's own finalize "
    "code. Counts are additive and the replay marker makes the merge "
    "idempotent, so the result is batch-slicing-independent and equals the "
    "one-shot batch PSI, which the shared oracle checks value-for-value. "
    "Store size is |types| x |bins| x 2 longs regardless of stream age.",
    oracle=_PSI_ORACLE,
)
def stream_psi_drift_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_stream_kudu_spark.streaming.sinks import UpsertParquetSink

    tune_session(spark)
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    base = new_run_dir("psi")
    # 4 hash-split replay files = 4 micro-batches
    # (maxFilesPerTrigger=1), staged via the canonical helper:
    # additive counts must not care which batch a row lands in, and
    # this slicing exercises exactly that.
    src = stage_mod_slices(ev, base, "event_id")

    sink = UpsertParquetSink(
        os.path.join(base, "counts"),
        key=["event_type", "period", "bin"],
        combine="sum",
    )

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        partial = (
            psi_tag_columns(batch_df)
            .groupBy("event_type", "period", "bin")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        sink(partial, batch_id)

    run_stream(replay_stream(spark, ev.schema, src), base, per_batch)
    counts = sink.read(spark).select("event_type", "period", "bin", "c")
    return psi_from_counts(counts)


# --------------------------------------------------------------------------
# Streaming KS — the q127 pre-aggregation path, maintained incrementally
# --------------------------------------------------------------------------


@register(
    "stream_ks_drift_e2e",
    "streaming",
    "END-TO-END streaming Kolmogorov-Smirnov monitor: each micro-batch "
    "reduces to (event_type, cents, a, b) tag-count partials that the "
    "sum-combine sink SUM-merges into the keyed store — exactly the "
    "'pre-aggregate to (type, cents, tag counts) first' scale path the "
    "batch q127 docstring prescribes — and the RANGE-frame ECDF finalize "
    "runs at read time over the stored value histogram instead of raw "
    "events (ECDFs only change at distinct values, so the histogram form "
    "is value-identical to the batch row form). Store size is bounded by "
    "the value domain (|types| x |distinct cents|), independent of stream "
    "age; counts are additive so the result is batch-slicing-independent "
    "and equals the one-shot batch KS, which the shared oracle checks "
    "value-for-value.",
    oracle=_KS_ORACLE,
)
def stream_ks_drift_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_stream_kudu_spark.streaming.sinks import UpsertParquetSink

    tune_session(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    base = new_run_dir("ks")
    # 4 hash-split replay files = 4 micro-batches
    # (maxFilesPerTrigger=1), staged via the canonical helper:
    # additive counts must not care which batch a row lands in, and
    # this slicing exercises exactly that.
    src = stage_mod_slices(ev, base, "event_id")

    sink = UpsertParquetSink(
        os.path.join(base, "counts"),
        key=["event_type", "cents"],
        combine="sum",
    )

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        partial = (
            ks_tag_columns(batch_df)
            .groupBy("event_type", "cents")
            .agg(F.sum("is_a").alias("a"), F.sum("is_b").alias("b"))
        )
        sink(partial, batch_id)

    run_stream(replay_stream(spark, ev.schema, src), base, per_batch)
    counts = sink.read(spark).select("event_type", "cents", "a", "b")
    return ks_from_value_counts(counts)


# --------------------------------------------------------------------------
# Streaming chi-square — category counts maintained incrementally
# --------------------------------------------------------------------------


@register(
    "stream_chisq_drift_e2e",
    "streaming",
    "END-TO-END streaming chi-square monitor, completing the drift trio "
    "(PSI, KS, chi-square) in streaming form: each micro-batch reduces to "
    "(event_type, ca, cb) period-count partials SUM-merged into the keyed "
    "store; the goodness-of-fit finalize runs at read time over |types| "
    "stored rows via the batch query's own code. The cheapest of the "
    "three monitors — state is two longs per category.",
    oracle=_CHISQ_ORACLE,
)
def stream_chisq_drift_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_stream_kudu_spark.streaming.sinks import UpsertParquetSink

    tune_session(spark)
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    base = new_run_dir("chs")
    # 4 hash-split replay files = 4 micro-batches
    # (maxFilesPerTrigger=1), staged via the canonical helper:
    # additive counts must not care which batch a row lands in, and
    # this slicing exercises exactly that.
    src = stage_mod_slices(ev, base, "event_id")

    sink = UpsertParquetSink(
        os.path.join(base, "counts"), key=["event_type"], combine="sum"
    )
    split = F.lit(_DRIFT_SPLIT).cast("timestamp")

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        partial = batch_df.groupBy("event_type").agg(
            F.count(F.when(F.col("ts") < split, 1)).alias("ca"),
            F.count(F.when(F.col("ts") >= split, 1)).alias("cb"),
        )
        sink(partial, batch_id)

    run_stream(replay_stream(spark, ev.schema, src), base, per_batch)
    return chisq_from_counts(sink.read(spark).select("event_type", "ca", "cb"))


# --------------------------------------------------------------------------
# Streaming Holt — the q140 recursion as keyed (level, trend) state
# --------------------------------------------------------------------------

def holt_stateful(events: DataFrame) -> DataFrame:
    """Fold a *streaming* events frame (``ts``, ``event_type``,
    ``cents``) through the Holt recursion per event_type: state is
    (level, trend, n_obs, seeded) — two floats and a counter regardless
    of stream age. Requires time-ordered micro-batches split on day
    boundaries (each day's rows arrive in one batch) so the per-batch
    daily rollup folds in day order, exactly like the batch query."""
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupStateTimeout

    from spark_stream_kudu_spark.operators.series import (
        _HOLT_ALPHA,
        _HOLT_BETA,
    )

    out_schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("n_obs", T.LongType()),
            T.StructField("level", T.DoubleType()),
            T.StructField("trend", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("level", T.DoubleType()),
            T.StructField("trend", T.DoubleType()),
            T.StructField("n_obs", T.LongType()),
        ]
    )

    def fn(key, pdfs, state):
        import pandas as pd

        chunks = [pdf for pdf in pdfs if not pdf.empty]
        if not chunks:
            return
        batch = pd.concat(chunks)
        daily = (
            batch.groupby("d", sort=True)["cents"].sum().reset_index()
        )
        if state.exists:
            level, trend, n_obs = state.get
        else:
            level, trend, n_obs = None, 0.0, 0
        for cents in daily["cents"]:
            x = float(cents)
            if level is None:
                level, trend = x, 0.0
            else:
                new_level = _HOLT_ALPHA * x + (1 - _HOLT_ALPHA) * (level + trend)
                trend = _HOLT_BETA * (new_level - level) + (1 - _HOLT_BETA) * trend
                level = new_level
            n_obs += 1
        state.update((level, trend, n_obs))
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_obs": [n_obs],
                "level": [level],
                "trend": [trend],
            }
        )

    return events.groupBy("event_type").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@register(
    "stream_holt_e2e",
    "streaming",
    "END-TO-END streaming Holt forecaster — the batch q140 docstring's "
    "'lifts to applyInPandasWithState with the same two floats' claim "
    "delivered: events replayed as day-aligned weekly micro-batches, each "
    "batch's daily totals folded into keyed (level, trend, n_obs) state "
    "spanning batch boundaries; the final per-type row (max n_obs at "
    "read-back) equals the one-shot batch recursion bit-for-bit, checked "
    "by the same recursive-CTE oracle. Dropped state would restart the "
    "recursion mid-stream and fail the value check — cross-batch "
    "continuity is what the oracle pins.",
    oracle=_HOLT_ORACLE,
)
def stream_holt_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    tune_session(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "ts",
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")).alias(
            "d"
        ),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    base = new_run_dir("holt")
    src = stage_time_split_batches(
        ev, base, ["2024-01-08", "2024-01-15", "2024-01-22"]
    )
    folded = holt_stateful(replay_stream(spark, ev.schema, src))
    out = run_stream(folded, base)
    rows = spark.read.parquet(out)
    w = Window.partitionBy("event_type").orderBy(F.desc("n_obs"))
    final = rows.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    scale = F.lit(10000.0)
    fr4 = lambda c: F.floor(c / F.lit(100.0) * scale + F.lit(0.5)) / scale
    return final.select(
        "event_type",
        "n_obs",
        fr4(F.col("level")).alias("level_dollars"),
        fr4(F.col("trend")).alias("trend_dollars"),
        fr4(F.col("level") + F.col("trend")).alias("forecast_dollars"),
    )
