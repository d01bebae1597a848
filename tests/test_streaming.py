"""Streaming end-to-end tests (SURVEY.md §5.3).

Asserts the reference's documented sink contract
(KafkaToKuduJava.java:113-115, ddl/create_impala_kudu_table.sql:12):
- one upserted row per batch
- idempotent under batch replay
- last-writer-wins on same-second key collision
plus the event-time windowed mode.
"""

import os
import uuid

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from spark_stream_kudu_spark.streaming.sinks import UpsertParquetSink, merge_by_key
from spark_stream_kudu_spark.streaming.traffic import (
    TRAFFIC_RAW_SCHEMA,
    parse_traffic,
    read_traffic_conditions,
    run_traffic_pipeline,
    traffic_aggregate,
    windowed_traffic_aggregate,
)

TMP = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp")


def _mkdirs():
    d = os.path.join(TMP, f"t_{uuid.uuid4().hex[:10]}")
    os.makedirs(d, exist_ok=True)
    return d


def test_parse_traffic_handles_whitespace(spark):
    raw = spark.createDataFrame(
        [Row(value="1511290952000,37"), Row(value="1511290953000,4 \n")]
    )
    rows = parse_traffic(raw).orderBy("measurement_time").collect()
    assert [tuple(r) for r in rows] == [(1511290952000, 37), (1511290953000, 4)]


def test_traffic_aggregate_contract(spark):
    raw = spark.createDataFrame(
        [Row(value=f"{1511290952000 + i * 1000},{10 + i}") for i in range(4)]
    )
    out = traffic_aggregate(parse_traffic(raw), F.lit(1700000000000)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["as_of_time"] == 1700000000000
    assert r["avg_num_veh"] == 11.5
    assert (r["min_num_veh"], r["max_num_veh"]) == (10, 13)
    assert (r["first_meas_time"], r["last_meas_time"]) == (
        1511290952000,
        1511290955000,
    )


def test_upsert_sink_idempotent_replay(spark):
    d = _mkdirs()
    sink = UpsertParquetSink(os.path.join(d, "sink"), key="k")
    b1 = spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b")])
    sink(b1, 0)
    sink(b1, 0)  # replayed batch: must be a no-op
    b2 = spark.createDataFrame([Row(k=2, v="B"), Row(k=3, v="c")])
    sink(b2, 1)
    sink(b2, 1)
    final = {r["k"]: r["v"] for r in sink.read(spark).collect()}
    assert final == {1: "a", 2: "B", 3: "c"}


def test_sink_compute_commit_separation_overlaps_safely(spark):
    """Compute/commit split: (a) compute writes a new version WITHOUT
    touching the live one — read() does not see it until commit; (b)
    two sinks whose inputs read EACH OTHER's live stores can compute
    concurrently and commit afterwards — the shape of the semantic-dedup
    stream, whose credits plan reads the member store while the
    dominator store writes; (c) commit is a no-op with nothing staged;
    (d) replay/empty guards live in compute and still hold. Iterated to
    shake out commit races."""
    from concurrent.futures import ThreadPoolExecutor

    d = _mkdirs()
    a = UpsertParquetSink(os.path.join(d, "a"), key="k")
    b = UpsertParquetSink(os.path.join(d, "b"), key="k")
    a.commit()  # nothing staged: must be a no-op, not an error
    a(spark.createDataFrame([Row(k=0, v=0)]), 0)
    b(spark.createDataFrame([Row(k=0, v=100)]), 0)
    for batch in range(1, 11):
        cur_a, cur_b = a.read(spark), b.read(spark)
        # each sink's batch input reads the OTHER sink's live store
        upd_a = cur_b.select("k", (F.col("v") + 1).alias("v")).unionByName(
            spark.createDataFrame([Row(k=batch, v=batch)])
        )
        upd_b = cur_a.select("k", (F.col("v") - 1).alias("v"))
        with ThreadPoolExecutor(max_workers=2) as pool:
            fa = pool.submit(a.compute, upd_a, batch)
            fb = pool.submit(b.compute, upd_b, batch)
            assert fa.result() and fb.result()
        # staged, not yet committed: read() still shows the old batch
        assert max(r["k"] for r in a.read(spark).collect()) == batch - 1
        a.commit()
        b.commit()
        for s in (a, b):
            assert sorted(os.listdir(s.path)) == ["_manifest.json", f"v{batch}"]
    # replayed batch id: compute refuses, commit stays a no-op
    assert a.compute(spark.createDataFrame([Row(k=9, v=-1)]), 10) is False
    a.commit()
    final_a = {r["k"]: r["v"] for r in a.read(spark).collect()}
    assert final_a[10] == 10 and len(final_a) == 11


def test_merge_by_key_last_writer_wins_within_batch(spark):
    cur = spark.createDataFrame([Row(k=1, v="old", __batch_id=0)]).drop("__batch_id")
    upd = spark.createDataFrame(
        [Row(k=1, v="mid", __batch_id=1), Row(k=1, v="new", __batch_id=2)]
    )
    out = merge_by_key(cur, upd, "k").collect()
    assert len(out) == 1 and out[0]["v"] == "new"


def test_same_second_key_collision_collapses(spark):
    # Two batches stamped with the same as_of_time (reference:
    # UNIX_TIMESTAMP() is second-granular, py:32) -> one row survives.
    d = _mkdirs()
    sink = UpsertParquetSink(os.path.join(d, "sink"), key="as_of_time")
    raw1 = spark.createDataFrame([Row(value="1000,1")])
    raw2 = spark.createDataFrame([Row(value="2000,9")])
    stamp = F.lit(1700000000000)
    sink(traffic_aggregate(parse_traffic(raw1), stamp), 0)
    sink(traffic_aggregate(parse_traffic(raw2), stamp), 1)
    rows = sink.read(spark).collect()
    assert len(rows) == 1
    assert rows[0]["max_num_veh"] == 9  # last writer won


@pytest.mark.parametrize("mode", ["parity", "event_time"])
def test_pipeline_end_to_end(spark, mode):
    d = _mkdirs()
    src = os.path.join(d, "csv")
    os.makedirs(src)
    base_ms = 1700000000000
    for k in range(3):
        with open(os.path.join(src, f"b{k}.csv"), "w") as f:
            for i in range(20):
                f.write(f"{base_ms + (k * 20 + i) * 1000},{k * 10 + (i % 5)}\n")
    raw = (
        spark.readStream.schema(TRAFFIC_RAW_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .text(src)
    )
    q = run_traffic_pipeline(
        raw,
        sink_path=os.path.join(d, "sink"),
        checkpoint=os.path.join(d, "ckpt"),
        mode=mode,
        as_of_time_fn=(lambda bid: 1700000100000 + bid * 5000)
        if mode == "parity"
        else None,
    )
    q.awaitTermination()
    rows = read_traffic_conditions(spark, os.path.join(d, "sink")).collect()
    if mode == "parity":
        # one row per micro-batch (3 files -> 3 batches); file->batch
        # order is not guaranteed, so compare as a set
        assert len(rows) == 3
        assert {r["min_num_veh"] for r in rows} == {0, 10, 20}
    else:
        # event-time sliding windows: 60 rows over 60s span at 5s slide
        # -> many windows; all aggregated state lands in the keyed table
        assert len(rows) > 3
        assert all(r["as_of_time"] % 5000 == 0 for r in rows)


def test_pipeline_processing_time_trigger(spark):
    """The reference's production trigger (O2: processingTime 5 s,
    kafka_to_kudu.py:17) drains a two-file backlog one file per trigger
    into the store."""
    d = _mkdirs()
    src = os.path.join(d, "csv")
    os.makedirs(src)
    base_ms = 1700000000000
    for k in range(2):
        with open(os.path.join(src, f"b{k}.csv"), "w") as f:
            for i in range(10):
                f.write(f"{base_ms + (k * 10 + i) * 1000},{k * 10 + i}\n")
    raw = (
        spark.readStream.schema(TRAFFIC_RAW_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .text(src)
    )
    q = run_traffic_pipeline(
        raw,
        sink_path=os.path.join(d, "sink"),
        checkpoint=os.path.join(d, "ckpt"),
        mode="parity",
        as_of_time_fn="content",
        trigger_available_now=False,
    )
    try:
        q.processAllAvailable()
        assert q.isActive  # unlike availableNow, it keeps waiting for input
    finally:
        q.stop()
    rows = read_traffic_conditions(spark, os.path.join(d, "sink")).collect()
    assert [
        (r["as_of_time"], r["min_num_veh"], r["max_num_veh"], r["first_meas_time"])
        for r in rows
    ] == [
        (base_ms + 9000, 0, 9, base_ms),
        (base_ms + 19000, 10, 19, base_ms + 10000),
    ]


def test_windowed_aggregate_is_incremental_plan(spark):
    # The streaming plan must contain a stateful aggregation, not a
    # batch re-scan (SURVEY.md §3.4).
    d = _mkdirs()
    raw = spark.readStream.schema(TRAFFIC_RAW_SCHEMA).text(d)
    agg = windowed_traffic_aggregate(parse_traffic(raw))
    assert agg.isStreaming


def test_stateful_first_seen_across_batches(spark):
    """applyInPandasWithState first-seen dedup: a key emitted in batch 1
    is suppressed in batch 2; new keys in batch 2 still emit; the final
    emitted set equals the batch-mode window-rank-1 query."""
    import datetime as dt

    from pyspark.sql import types as T

    from spark_stream_kudu_spark.streaming.stateful import first_seen_stateful

    d = _mkdirs()
    src, ckpt = os.path.join(d, "src"), os.path.join(d, "ckpt")
    os.makedirs(src, exist_ok=True)

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(src, name)
        )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    batch1 = [
        (1, ts(0), 7, "click"),
        (2, ts(1), 7, "click"),  # same key, later -> suppressed
        (3, ts(2), 8, "view"),
    ]
    batch2 = [
        (4, ts(10), 7, "click"),  # key seen in batch 1 -> suppressed
        (5, ts(11), 9, "click"),  # new key -> emitted
        (6, ts(12), 8, "purchase"),  # new key (same user, new type) -> emitted
    ]

    write_batch("b1", batch1)
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(
        os.path.join(src, "*")
    )
    out = first_seen_stateful(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("first_seen_t")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        after_b1 = {
            (r.user_id, r.event_type): r.event_id
            for r in spark.sql("SELECT * FROM first_seen_t").collect()
        }
        assert after_b1 == {(7, "click"): 1, (8, "view"): 3}

        write_batch("b2", batch2)
        q.processAllAvailable()
        emitted = spark.sql("SELECT * FROM first_seen_t").collect()
        final = {(r.user_id, r.event_type): (r.event_id, r.first_ms) for r in emitted}
        assert final == {
            (7, "click"): (1, 1704067200000),
            (8, "view"): (3, 1704067202000),
            (9, "click"): (5, 1704067211000),
            (8, "purchase"): (6, 1704067212000),
        }
        # No key emitted twice (cross-batch suppression).
        assert len(emitted) == len(final)
    finally:
        q.stop()


def test_kudu_adapter_gates_cleanly(spark):
    """Without the kudu-spark jar the adapter must (a) report
    unavailability, (b) fail with an actionable error on write, and
    (c) stay interface-compatible with UpsertParquetSink."""
    import pytest as _pytest

    from spark_stream_kudu_spark.streaming.kudu import KuduUpsertSink, kudu_available

    assert kudu_available(spark) is False  # jar not in this container
    sink = KuduUpsertSink(master="kudu-master:7051", table="traffic_conditions")
    assert callable(sink) and hasattr(sink, "read")  # foreachBatch contract
    df = spark.createDataFrame([Row(as_of_time=1, avg_num_veh=2.0)])
    with _pytest.raises(RuntimeError, match="kudu-spark datasource not on the classpath"):
        sink(df, 0)
    # empty batch short-circuits before the classpath check (O7 guard)
    sink(df.filter(F.col("as_of_time") < 0), 1)


def test_watermark_drops_late_data(spark):
    """Event-time semantics under append mode: records older than the
    watermark are dropped; on-time records in the same batch still
    aggregate. (The semantic upgrade over the reference's arrival-time
    window, SURVEY §2.3.1 — late data there is silently re-windowed.)"""
    d = _mkdirs()
    src, ckpt = os.path.join(d, "src"), os.path.join(d, "ckpt")
    os.makedirs(src, exist_ok=True)

    from spark_stream_kudu_spark.streaming.traffic import TRAFFIC_RAW_SCHEMA

    base_ms = 1_700_000_000_000  # window grid aligns to epoch

    def write_batch(name, rows):
        spark.createDataFrame([(r,) for r in rows], TRAFFIC_RAW_SCHEMA).coalesce(
            1
        ).write.parquet(os.path.join(src, name))

    # Batch 1: two on-time records around t0 advance the watermark to
    # t0+10min - 2min.
    write_batch("b1", [f"{base_ms},10", f"{base_ms + 600_000},20"])

    stream = spark.readStream.schema(TRAFFIC_RAW_SCHEMA).parquet(os.path.join(src, "*"))
    out = windowed_traffic_aggregate(
        parse_traffic(stream), window="60 seconds", slide="60 seconds"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("wm_t")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        # Batch 2: one record 30 min BEFORE the watermark (dropped) and
        # one on-time record right at the stream head (kept, new window).
        write_batch("b2", [f"{base_ms - 1_800_000},99", f"{base_ms + 660_000},30"])
        q.processAllAvailable()
        # Batch 3: push event time far forward so every prior window is
        # below the watermark and append mode emits it.
        write_batch("b3", [f"{base_ms + 3_600_000},40"])
        q.processAllAvailable()
        rows = {
            r.as_of_time: (r.min_num_veh, r.max_num_veh)
            for r in spark.sql("SELECT * FROM wm_t").collect()
        }
        # the late 99 must appear nowhere
        assert all(99 not in vals for vals in rows.values()), rows

        def window_end(ts_ms):  # tumbling grid aligns to epoch minutes
            return (ts_ms // 60_000) * 60_000 + 60_000

        # every on-time record's window was emitted once finalized
        assert rows[window_end(base_ms)] == (10, 10)
        assert rows[window_end(base_ms + 600_000)] == (20, 20)
        assert rows[window_end(base_ms + 660_000)] == (30, 30)
    finally:
        q.stop()


def test_dedup_within_watermark_drops_redelivery(spark):
    """dropDuplicatesWithinWatermark: a record re-delivered in a later
    batch (within the horizon) is emitted exactly once; fresh records
    still pass."""
    import datetime as dt

    from pyspark.sql import types as T

    from spark_stream_kudu_spark.streaming.stateful import dedup_within_watermark

    d = _mkdirs()
    src, ckpt = os.path.join(d, "src"), os.path.join(d, "ckpt")
    os.makedirs(src, exist_ok=True)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
        ]
    )
    t0 = dt.datetime(2024, 1, 1)

    def wb(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            os.path.join(src, name)
        )

    wb("b1", [(1, t0, 7), (2, t0 + dt.timedelta(seconds=5), 8)])
    stream = spark.readStream.schema(schema).parquet(os.path.join(src, "*"))
    q = (
        dedup_within_watermark(stream)
        .writeStream.format("memory")
        .queryName("ddw_t")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        wb("b2", [(1, t0, 7), (3, t0 + dt.timedelta(seconds=10), 9)])  # 1 = redelivery
        q.processAllAvailable()
        ids = sorted(r.event_id for r in spark.sql("SELECT * FROM ddw_t").collect())
        assert ids == [1, 2, 3], ids  # each exactly once
    finally:
        q.stop()


def test_stream_stream_interval_join(spark):
    """Two watermarked file streams interval-join to exactly the rows the
    equivalent batch join produces; the out-of-interval and wrong-key
    pairs never appear; state-bounding conditions (watermark + interval)
    are present so this would not buffer forever on a real cluster."""
    import datetime as dt

    from pyspark.sql import types as T

    from spark_stream_kudu_spark.streaming.joins import interval_join

    d = _mkdirs()
    vsrc, psrc, ckpt = (os.path.join(d, n) for n in ("views", "purch", "ckpt"))
    for n in (vsrc, psrc):
        os.makedirs(n, exist_ok=True)

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
        ]
    )
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    views = [
        (101, ts(0), 1),      # joins purchase 201 (30 min later)
        (102, ts(0), 2),      # wrong user for 202 -> no join
        (103, ts(-7200), 1),  # 2h before purchase 201 -> outside horizon
        (104, ts(1500), 1),   # also joins purchase 201 (within 1h)
    ]
    purchases = [
        (201, ts(1800), 1),
        (202, ts(1800), 3),   # user 3 has no view -> no join
    ]
    spark.createDataFrame(views, schema).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(vsrc, "b1")
    )
    spark.createDataFrame(purchases, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(psrc, "b1"))

    def views_df(streaming):
        reader = spark.readStream if streaming else spark.read
        df = reader.schema(schema).parquet(os.path.join(vsrc, "*"))
        return df.select(
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
            "user_id",
        )

    def purchases_df(streaming):
        reader = spark.readStream if streaming else spark.read
        df = reader.schema(schema).parquet(os.path.join(psrc, "*"))
        return df.select(
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            "user_id",
        )

    def run(streaming):
        joined = interval_join(
            purchases_df(streaming),
            views_df(streaming),
            key="user_id",
            left_ts="purchase_ts",
            right_ts="view_ts",
        ).select("user_id", "purchase_id", "view_id")
        if not streaming:
            return {tuple(r) for r in joined.collect()}
        q = (
            joined.writeStream.format("memory")
            .queryName("ssj_t")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            return {
                tuple(r) for r in spark.sql("SELECT * FROM ssj_t").collect()
            }
        finally:
            q.stop()

    expected = {(1, 201, 101), (1, 201, 104)}
    assert run(streaming=False) == expected
    assert run(streaming=True) == expected


def test_checkpoint_resume_processes_only_new_files(spark, tmp_path):
    """Exactly-once across restarts: a stopped availableNow query
    restarted with the same checkpoint must process ONLY files that
    arrived since — no reprocessing (would duplicate rows in the append
    sink), no gaps. This is the recovery contract a production restart
    relies on (reference O19's lifecycle, lifted to checkpointed
    Structured Streaming)."""
    import glob
    import shutil

    from spark_stream_kudu_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    import os

    os.makedirs(src, exist_ok=True)

    def stage(k: int) -> None:
        stage_dir = str(tmp_path / f"stage_{k}")
        ev.filter(F.col("event_id") % 4 == k).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage_dir)
        part = glob.glob(os.path.join(stage_dir, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(src, f"batch_{k}.parquet"))

    def run_once() -> None:
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    stage(0)
    stage(1)
    run_once()
    first = spark.read.parquet(out)
    expected_first = ev.filter(F.col("event_id") % 4 < 2).count()
    assert first.count() == expected_first

    stage(2)
    stage(3)
    run_once()
    final = spark.read.parquet(out)
    assert final.count() == ev.count()
    # every id exactly once: no gaps, no restart duplicates
    assert final.select("event_id").distinct().count() == ev.count()


def test_stream_hll_equals_batch_sketch_exactly(spark, sf_smoke):
    """HLL union is register-wise max — commutative, associative,
    idempotent — so the STREAMING estimate must equal the one-shot batch
    sketch estimate bit-for-bit, not just approximately."""
    from spark_stream_kudu_spark.sources.tables import load_table
    from spark_stream_kudu_spark.streaming.extensions import run_stream_hll

    sf = sf_smoke
    _, store = run_stream_hll(spark, sf)
    streaming = {
        r["event_type"]: r["approx_users"]
        for r in store.select(
            "event_type", F.hll_sketch_estimate("sk").alias("approx_users")
        ).collect()
    }
    ev = load_table(spark, sf, "events")
    batch = {
        r["event_type"]: r["approx_users"]
        for r in ev.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("approx_users"))
        .collect()
    }
    assert streaming == batch
    # and the estimates are sane: within 5% of exact distinct counts
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    for et, est in streaming.items():
        assert abs(est - exact[et]) <= 0.05 * exact[et]


def test_stage_mod_slices_matches_per_slice_filters(spark):
    """The one-scan partitionBy staging must produce byte-identical
    slice MEMBERSHIP to the n filtered scans it replaced — including a
    negative key (pmod bucket, never a dropped _b=-1 directory) and an
    empty bucket (still staged, so the replay keeps n batches)."""
    import glob

    from spark_stream_kudu_spark.streaming.workdir import (
        new_run_dir,
        stage_mod_slices,
    )

    rows = [(i, f"v{i}") for i in range(11)] + [(-3, "neg")]
    # bucket 2 empty: drop keys == 2 mod 4 (2, 6, 10)
    rows = [r for r in rows if r[0] % 4 != 2 or r[0] < 0]  # -3 % 4 == 1 in py
    df = spark.createDataFrame(rows, "k long, payload string")
    base = new_run_dir("stagemod")
    src = stage_mod_slices(df, base, "k", n=4)

    files = sorted(glob.glob(os.path.join(src, "batch_*.parquet")))
    assert len(files) == 4
    got = {
        i: {tuple(r) for r in spark.read.parquet(f).collect()}
        for i, f in enumerate(files)
    }
    want = {
        i: {(k, p) for k, p in rows if k % 4 == i}  # python % == pmod
        for i in range(4)
    }
    assert got == want
    # schema preserved, no _b column leaks into the staged files
    assert spark.read.parquet(files[0]).columns == ["k", "payload"]


def test_stream_bitmap_words_equal_batch_words_exactly(spark, sf_smoke):
    """Bitmap OR is commutative, associative, idempotent — the
    streaming store's merged (event_type, word, mask) rows must equal
    the one-shot batch bitmap EXACTLY (same words, same masks), and the
    popcount totals must equal the true distinct counts."""
    from spark_stream_kudu_spark.operators.sketches import bitmap_words
    from spark_stream_kudu_spark.registry import load_all
    from spark_stream_kudu_spark.sources.tables import load_table

    spec = load_all()["stream_bitmap_distinct_e2e"]
    final = {
        r["event_type"]: r["distinct_users"]
        for r in spec.builder(spark, sf_smoke).collect()
    }
    ev = load_table(spark, sf_smoke, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert final == exact
    # word-level: batch kernel over the same input produces the same set
    batch_words = {
        (r["event_type"], r["word"]): r["mask"]
        for r in bitmap_words(
            ev.select("event_type", "user_id")
        ).collect()
    }
    assert len(batch_words) > 0
    # replaying the full pipeline converges to the identical store
    final2 = {
        r["event_type"]: r["distinct_users"]
        for r in spec.builder(spark, sf_smoke).collect()
    }
    assert final2 == final


def test_run_stream_tags_batch_jobs_and_raises_hook_errors(spark):
    """The one stream runner names the query after its run dir, so every
    job of micro-batch N — including the jobs the foreachBatch hook
    starts — carries the run name and ``batch = N`` in its description;
    and a hook that raises fails the run instead of returning a partial
    table."""
    from spark_stream_kudu_spark.streaming.workdir import (
        new_run_dir,
        replay_stream,
        run_stream,
        stage_one_slice,
    )

    df = spark.range(4).select(F.col("id").alias("k"))

    def staged(prefix):
        base = new_run_dir(prefix)
        for k in range(2):
            src = stage_one_slice(df.filter(F.col("k") % 2 == k), base, k)
        return base, replay_stream(spark, df.schema, src)

    def jobs():
        it = spark.sparkContext._jsc.sc().statusStore().jobsList(None).iterator()
        while it.hasNext():
            yield it.next()

    base, stream = staged("runner")
    first_job = max((j.jobId() for j in jobs()), default=-1) + 1
    seen = []

    def per_batch(batch_df, batch_id):
        seen.append((batch_id, sorted(r["k"] for r in batch_df.collect())))

    assert run_stream(stream, base, per_batch) is None
    assert seen == [(0, [0, 2]), (1, [1, 3])]
    descs = [
        j.description().get() if j.description().isDefined() else None
        for j in jobs()
        if j.jobId() >= first_job
    ]
    assert descs
    name = os.path.basename(base)
    assert all(d is not None and d.startswith(name + "\n") for d in descs), descs
    assert {d.splitlines()[-1] for d in descs} == {"batch = 0", "batch = 1"}

    base, stream = staged("runner_fail")

    def failing(batch_df, batch_id):
        if batch_id == 1:
            raise RuntimeError("hook failed on batch 1")

    with pytest.raises(Exception, match="hook failed on batch 1"):
        run_stream(stream, base, failing)
