"""Scratch dirs, replay staging and the one stream runner for
file-replay streaming queries.

The end-to-end streaming queries (stream_traffic_pipeline, the
streaming/extensions.py runs and the stateful lifts) each stage replay
files, a checkpoint, and a sink under a fresh run directory in
``.tmp/``. ``replay_stream`` reads the staged files one per
micro-batch, and ``run_stream`` is the one way a replay stream runs:
it drives the stream over all available input and returns, with the
checkpoint under ``base/ckpt`` and the query named after the run dir,
so every job of every micro-batch carries the run name and batch id in
its description.

Runs are independent, so old directories are garbage; this module hands
out run dirs and reaps siblings older than an hour (long past the point
their lazily-read result DataFrames were consumed) so repeated
correctness / test runs don't grow the repo without bound.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

TMP_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), ".tmp"
)

_MAX_AGE_SEC = 3600


def gc_old_runs(max_age_sec: int = _MAX_AGE_SEC) -> None:
    """Remove run directories whose mtime is older than ``max_age_sec``.
    Best-effort: concurrent runs racing on the same dir just skip it."""
    if not os.path.isdir(TMP_ROOT):
        return
    cutoff = time.time() - max_age_sec
    for name in os.listdir(TMP_ROOT):
        path = os.path.join(TMP_ROOT, name)
        try:
            if os.path.isdir(path) and os.path.getmtime(path) < cutoff:
                shutil.rmtree(path, ignore_errors=True)
        except OSError:
            pass


def new_run_dir(prefix: str) -> str:
    """Fresh scratch dir for one streaming run; reaps stale siblings."""
    gc_old_runs()
    path = os.path.join(TMP_ROOT, f"{prefix}_{uuid.uuid4().hex[:12]}")
    os.makedirs(path, exist_ok=True)
    return path


def stage_one_slice(slice_df, base: str, k: int) -> str:
    """Stage ONE pre-filtered slice as replay file ``k``: one parquet
    part written executor-side (no driver collect), moved under
    ``base/src`` with an mtime that preserves replay order (the file
    source orders batches by modification time) — the single definition
    of the staging convention every file-replay e2e query uses.

    Returns the source directory."""
    import glob
    import shutil

    src = os.path.join(base, "src")
    os.makedirs(src, exist_ok=True)
    stage = os.path.join(base, f"stage_{k}")
    slice_df.coalesce(1).write.mode("overwrite").parquet(stage)
    part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
    dest = os.path.join(src, f"batch_{k}.parquet")
    shutil.move(part, dest)
    os.utime(dest, (1_000_000.0 + 100 * k,) * 2)
    return src


def stage_time_split_batches(df, base: str, bounds: list[str], ts_col: str = "ts") -> str:
    """Stage ``df`` as time-ordered replay files for a file-source stream.

    Splits on the timestamp ``bounds`` (half-open ranges), writes each
    slice as ONE parquet file under ``base/src``, and stamps ascending
    mtimes so the file source (which orders batches by modification
    time) replays them oldest-first with ``maxFilesPerTrigger=1``.
    Per-key arrival order then matches event-time order across batches —
    the property the stateful e2e queries (anomaly, transitions) rely on
    for oracle parity with their batch window twins.

    Returns the source directory to pass to :func:`replay_stream`.
    """
    for k, (lo, hi) in enumerate(zip([None, *bounds], [*bounds, None])):
        stage_one_slice(time_slice(df, lo, hi, ts_col), base, k)
    return os.path.join(base, "src")


def time_slice(df, lo: str | None, hi: str | None, ts_col: str = "ts"):
    """Half-open [lo, hi) timestamp slice of ``df`` (None = unbounded)."""
    from pyspark.sql import functions as F

    out = df
    if lo is not None:
        out = out.filter(F.col(ts_col) >= F.lit(lo).cast("timestamp"))
    if hi is not None:
        out = out.filter(F.col(ts_col) < F.lit(hi).cast("timestamp"))
    return out


def stage_mod_slices(df, base: str, key_col: str, n: int = 4) -> str:
    """Stage ALL ``n`` replay slices (``pmod(key_col, n) == k`` -> file
    k; pmod so negative keys still land in a staged bucket) in
    ONE scan of ``df``: a partitionBy write splits the buckets
    executor-side (repartition on the bucket puts each bucket in
    exactly one task, so each bucket directory holds exactly one part
    file), then the files move under ``base/src`` with the same
    ascending-mtime convention as :func:`stage_one_slice`. Replaces the
    ``for k in range(n): stage_one_slice(df.filter(key % n == k))``
    pattern, which scanned the source table n times — measured 4.8s ->
    1.7s for the 4-slice events staging at sf0.1.

    Only for the uniform modulo split; custom or time-ordered slicings
    keep using stage_one_slice / stage_time_split_batches.

    Returns the source directory."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    src = os.path.join(base, "src")
    os.makedirs(src, exist_ok=True)
    stage = os.path.join(base, "stage_all")
    (
        # pmod, not %: Spark's % keeps the dividend's sign, so a
        # negative key would land in a _b=-1 directory no mover looks
        # at and its rows would silently vanish from the replay.
        df.withColumn("_b", F.pmod(F.col(key_col), F.lit(n)).cast("int"))
        .repartition(n, "_b")
        .write.partitionBy("_b")
        .mode("overwrite")
        .parquet(stage)
    )
    for k in range(n):
        parts = glob.glob(os.path.join(stage, f"_b={k}", "part-*.parquet"))
        dest = os.path.join(src, f"batch_{k}.parquet")
        if len(parts) == 1:
            shutil.move(parts[0], dest)
        elif not parts:
            # Empty bucket: stage an empty file so the replay still has
            # n micro-batches (limit(0) short-circuits the scan).
            empty_dir = os.path.join(base, f"stage_empty_{k}")
            df.limit(0).coalesce(1).write.mode("overwrite").parquet(empty_dir)
            shutil.move(
                glob.glob(os.path.join(empty_dir, "part-*.parquet"))[0], dest
            )
        else:  # pragma: no cover - one task owns each bucket
            raise RuntimeError(
                f"bucket {k} wrote {len(parts)} part files; expected 1"
            )
        os.utime(dest, (1_000_000.0 + 100 * k,) * 2)
    return src


def replay_stream(spark, schema, src: str):
    """The replay source: the parquet files under ``src`` read one per
    micro-batch (``maxFilesPerTrigger=1``), oldest mtime first."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )


def run_stream(df, base: str, per_batch=None) -> str | None:
    """Run the streaming DataFrame ``df`` over all available input
    (``availableNow``), checkpointing under ``base/ckpt``, and return
    once it has finished.

    The query is named after the run dir, so Spark gives every job of
    micro-batch N — including the jobs ``per_batch`` starts — a
    description whose first line is the run dir's name and whose last
    line is ``batch = N``.

    With no ``per_batch`` the rows are appended as parquet to
    ``base/out`` and that path is returned; otherwise each micro-batch
    goes to ``foreachBatch(per_batch)`` and None is returned. A batch
    that fails (a raising hook included) makes this raise."""
    writer = (
        df.writeStream.queryName(os.path.basename(base))
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
    )
    out = None
    if per_batch is None:
        out = os.path.join(base, "out")
        writer = writer.format("parquet").option("path", out)
    else:
        writer = writer.foreachBatch(per_batch)
    writer.start().awaitTermination()
    return out
