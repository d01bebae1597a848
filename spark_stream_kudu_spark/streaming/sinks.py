"""The keyed store — the engine's replacement for the Kudu upsert.

The reference demonstrates the same upsert three ways per batch
(KuduContext.upsertRows KafkaToKuduJava.java:117-119; datasource writer
with Kudu UPSERT-on-append semantics kafka_to_kudu.py:44-45,
KafkaToKuduScala.scala:53-56; SQL INSERT kafka_to_kudu.py:48-51) and
documents the contract in comments (java:113-115): idempotent,
last-writer-wins on the primary key ``as_of_time``, safe to re-run.
Spark's parquet writer has no upsert (SURVEY.md §2.3.4), so this module
keeps that contract in one class, ``UpsertParquetSink``, a
``foreachBatch`` target with two parts:

- **Merge.** A store is a key plus a ``combine``. ``None`` is
  last-writer-wins (``merge_by_key``, Kudu's UPSERT). An aggregate name
  (``"sum"``, ``"hll_union_agg"`` or ``"bit_or"``, ``merge_aggregate``)
  folds each batch's partial values into the stored ones, every
  non-key column with the same aggregate: an incrementally maintained
  rollup, HLL sketches or distinct-id bitmaps. Either merge is one key
  shuffle, issued as ``repartition(NUM_BUCKETS, key)`` so the written
  store carries the reference's hash layout (``PARTITION BY HASH
  PARTITIONS 4``, ddl/create_impala_kudu_table.sql:14).
- **Commit.** Each batch's merged store is written to its own version
  directory ``v<batch_id>/``. The store's manifest, ``_manifest.json``,
  names the live version and the batch id it reflects, and it is
  published with one write-aside-then-``os.replace``. Data and replay
  marker therefore change in the same step: a crash anywhere leaves
  either the old version with the old batch id or the new version with
  the new one, and the batch's replay after a restart redoes or skips
  it. That is the idempotent sink of Structured Streaming's
  exactly-once argument; the replayable source and the offset log are
  Spark's. A version directory the manifest does not name is a crashed
  attempt's leftover or a superseded version, and the writer deletes it.
  A crash here is the process dying; nothing is fsynced, so surviving
  power loss is left to the filesystem, as for Spark's own checkpoint.

Scale note: every batch rewrites the whole store, which is right for
the reference's cardinality (one row per 5 s batch). A high-cardinality
store needs merge-on-read deltas behind the same manifest instead (a
format with real MERGE, or Kudu itself).
"""

from __future__ import annotations

import json
import os
import re
import shutil
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Hash buckets of every store write (reference ddl:14, HASH PARTITIONS 4).
NUM_BUCKETS = 4

#: The aggregate ``combine``s. Each is commutative and associative, so a
#: store's contents do not depend on how the stream was cut into batches.
_AGGREGATES = {"sum": F.sum, "hll_union_agg": F.hll_union_agg, "bit_or": F.bit_or}

# One sub-batch marker column used to disambiguate replays.
_BATCH_COL = "__batch_id"

_MANIFEST = "_manifest.json"
_VERSION_DIR = re.compile(r"v\d+")

# Sentinel distinguishing "caller did not pre-read the store" from "the
# caller read it and it was missing (None)" in UpsertParquetSink.compute.
_READ_STORE = object()


def _keys(key: str | list[str]) -> list[str]:
    return [key] if isinstance(key, str) else list(key)


def _shuffle(df: DataFrame, keys: list[str], bucketed: bool) -> DataFrame:
    """The merge's key exchange: the store's hash layout when
    ``bucketed``, else left to the aggregate."""
    return df.repartition(NUM_BUCKETS, *keys) if bucketed else df


def merge_by_key(
    current: DataFrame | None,
    updates: DataFrame,
    key: str | list[str],
    bucketed: bool = False,
) -> DataFrame:
    """Last-writer-wins merge of ``updates`` into ``current``.

    Row-for-row equivalent to Kudu UPSERT (java:117-119): every key in
    ``updates`` replaces its row in ``current``; unknown keys insert.
    If ``updates`` itself carries duplicate keys, the *last* occurrence
    wins, matching sequential upserts (requires a deterministic order
    column ``__batch_id`` if present, else arbitrary-but-single).

    The merge is ONE keyed aggregate: union both sides with a priority
    tag (current 0, updates 1) and keep, per key, the max of
    ``struct(priority, non_keys...)``. A key only in one side keeps that
    side's row, a key in both keeps the updates row, and duplicate
    update keys resolve to the lexicographically-largest non-key tuple
    (struct comparison is field-order left-to-right, priority first).
    Requires orderable non-key columns (no maps), which holds for every
    store schema here.
    """
    keys = _keys(key)
    had_batch_col = _BATCH_COL in updates.columns
    if had_batch_col:
        # Explicit arrival order: keep the row of the LATEST batch per key.
        w = Window.partitionBy(*keys).orderBy(F.col(_BATCH_COL).desc())
        updates = (
            updates.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", _BATCH_COL)
        )
    non_keys = [c for c in updates.columns if c not in keys]
    # The output column order is load-bearing: it becomes the store's
    # parquet schema, which later batches read back. An existing store
    # keeps its order; a first batch keeps the updates' own order when
    # it was window-deduped or is key-only, and is keys-first otherwise.
    if current is not None:
        out_cols = current.columns
    elif had_batch_col or not non_keys:
        out_cols = updates.columns
    else:
        out_cols = [*keys, *non_keys]

    if not non_keys:
        # Key-only rows: the merge degenerates to a distinct union.
        both = updates if current is None else current.unionByName(updates)
        return _shuffle(both, keys, bucketed).dropDuplicates(keys)
    tagged = updates.withColumn("__prio", F.lit(1))
    if current is not None:
        tagged = current.withColumn("__prio", F.lit(0)).unionByName(tagged)
    packed = (
        _shuffle(tagged, keys, bucketed)
        .groupBy(*keys)
        .agg(
            F.max(
                F.struct(F.col("__prio"), *[F.col(c) for c in non_keys])
            ).alias("__r")
        )
    )
    merged = packed.select(
        *keys, *[F.col(f"__r.{c}").alias(c) for c in non_keys]
    )
    return merged.select(*out_cols)


def merge_aggregate(
    current: DataFrame | None,
    updates: DataFrame,
    key: str | list[str],
    combine: str,
    bucketed: bool = False,
) -> DataFrame:
    """Aggregate merge: ``updates`` carries PARTIAL values per key, and
    each non-key column folds into ``current`` with the ``combine``
    aggregate (``"sum"``, ``"hll_union_agg"`` or ``"bit_or"``) — the
    maintenance step of a continuous aggregate. Commutative and
    associative, so the result is independent of micro-batch
    boundaries. Output is keys first, then the non-key columns in
    ``updates``' order."""
    keys = _keys(key)
    agg = _AGGREGATES[combine]
    both = updates if current is None else current.unionByName(updates)
    return _shuffle(both, keys, bucketed).groupBy(*keys).agg(
        *[agg(c).alias(c) for c in updates.columns if c not in keys]
    )


class UpsertParquetSink:
    """A keyed parquet store, upserted one micro-batch at a time.

    Usage::

        sink = UpsertParquetSink(path, key="as_of_time")          # last-writer-wins
        rollup = UpsertParquetSink(path, key=["k"], combine="sum")
        q = df.writeStream.outputMode("update").foreachBatch(sink).start()

    A batch lands in two steps. :meth:`compute` runs the Spark job: it
    merges the batch with the live version into a new version directory
    and leaves the live store as it is. :meth:`commit` publishes that
    version by replacing the manifest. Calling the sink does both. A
    batch id at or below the manifest's is a replay and is skipped,
    which reproduces the reference's replay-safety (java:113-115).
    """

    def __init__(
        self, path: str, key: str | list[str], combine: str | None = None
    ):
        self.path = path
        self.key = _keys(key)
        self.combine = combine
        # An aggregate's batch input is itself a partial aggregate, whose
        # shuffle runs before its first row: the empty-batch probe would
        # run it once and the merge again. A lazy cut makes the probe
        # materialize it and the merge read it back. Last-writer-wins
        # inputs are often narrow plans whose limit-1 probe is cheaper
        # than materializing them (callers with expensive plans cut at
        # the call site instead).
        self._cut_input = combine is not None
        self._manifest = os.path.join(path, _MANIFEST)
        # Read-back schema, cached after the first inference: every
        # merge keeps the column set, so the store's read schema is fixed
        # for the life of the sink. Cached from an actual read-back so
        # nullability matches parquet inference exactly.
        self._schema = None
        # Manifest entry of the version compute wrote and commit has not
        # yet published.
        self._staged: dict | None = None

    def _live(self) -> dict | None:
        """The manifest, ``{"version": "v<id>", "batch_id": <id>}``, or
        None before the first commit."""
        try:
            with open(self._manifest) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def _live_dir(self) -> str | None:
        live = self._live()
        return None if live is None else os.path.join(self.path, live["version"])

    def num_rows(self) -> int | None:
        """Exact row count of the live store from its parquet footers
        (driver-side metadata, no Spark job) — None when the store is
        missing. The cheap source for row bounds fed to size-gated
        joins over the store (a ``count()`` would cost a scan job)."""
        live = self._live_dir()
        if live is None:
            return None
        import glob

        import pyarrow.parquet as pq

        return sum(
            pq.read_metadata(f).num_rows
            for f in glob.glob(os.path.join(live, "*.parquet"))
        )

    def read(self, spark) -> DataFrame | None:
        # Only a store with no manifest reads as empty. A live version
        # that fails to read must raise: reading it as empty would make
        # the next merge rewrite the store from nothing.
        live = self._live_dir()
        if live is None:
            return None
        if self._schema is not None:
            return spark.read.schema(self._schema).parquet(live)
        df = spark.read.parquet(live)
        self._schema = df.schema
        return df

    def compute(
        self, batch_df: DataFrame, batch_id: int, current=_READ_STORE
    ) -> bool:
        """Write this batch's merged store as version ``v<batch_id>``
        WITHOUT touching the live one; return True iff a version is
        ready for :meth:`commit` (False for a replayed or empty batch).

        Computing only reads the live version and writes a new one, so
        several stores may compute concurrently even when one's input
        reads another's live version (:func:`upsert_stores`).

        ``current`` is for a caller that already read this store for
        its own batch logic (e.g. joining new arrivals against the
        accumulated store before upserting into them): passing that
        DataFrame plans the store once per batch instead of twice. It
        must be the unmodified result of ``self.read(spark)`` taken in
        the same micro-batch, with no write to this sink in between."""
        live = self._live()
        if live is not None and batch_id <= live["batch_id"]:
            return False  # replayed batch: idempotent no-op
        if self._cut_input:
            batch_df = batch_df.localCheckpoint(eager=False)
        # Empty-batch guard (reference O7, kafka_to_kudu.py:23).
        if batch_df.isEmpty():
            return False
        self._drop_unlisted(live)
        if current is _READ_STORE:
            current = self.read(batch_df.sparkSession)
        if self.combine is None:
            merged = merge_by_key(current, batch_df, self.key, bucketed=True)
        else:
            merged = merge_aggregate(
                current, batch_df, self.key, self.combine, bucketed=True
            )
        version = f"v{batch_id}"
        merged.write.mode("overwrite").parquet(os.path.join(self.path, version))
        self._staged = {"version": version, "batch_id": batch_id}
        return True

    def _drop_unlisted(self, live: dict | None) -> None:
        """Delete every version directory but the live one: the output
        of an attempt that crashed before its commit, or a superseded
        version whose commit crashed before deleting it."""
        if not os.path.isdir(self.path):
            return
        keep = None if live is None else live["version"]
        for name in os.listdir(self.path):
            if _VERSION_DIR.fullmatch(name) and name != keep:
                shutil.rmtree(os.path.join(self.path, name))

    def commit(self) -> None:
        """Publish the version :meth:`compute` wrote: write the new
        manifest aside and ``os.replace`` it over the live one (the one
        step that changes the store), then delete the superseded
        version. No-op when nothing is staged. Driver-side only — safe
        while OTHER stores' jobs run, but every job reading THIS store
        must have finished."""
        if self._staged is None:
            return
        prev = self._live()
        tmp = self._manifest + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self._staged, f)
        os.replace(tmp, self._manifest)
        self._staged = None
        if prev is not None:
            shutil.rmtree(os.path.join(self.path, prev["version"]))

    def __call__(
        self, batch_df: DataFrame, batch_id: int, current=_READ_STORE
    ) -> None:
        if self.compute(batch_df, batch_id, current):
            self.commit()


def upsert_stores(batch_id: int, *writes: tuple) -> None:
    """Upsert one micro-batch into several stores: compute them
    concurrently (one driver thread each, so one job's tasks back-fill
    the executors the other's tail frees), then commit them in the
    order given.

    Each write is ``(sink, batch_df)`` or ``(sink, batch_df, current)``
    (see :meth:`UpsertParquetSink.compute`). The order matters when one
    write's input reads another store: that store must come after it.
    A crash between the commits then leaves the read store unchanged,
    so the batch's replay recomputes the same input, skips the store
    that already committed, and commits the other."""
    with ThreadPoolExecutor(max_workers=len(writes)) as pool:
        computes = [
            pool.submit(sink.compute, batch_df, batch_id, *current)
            for sink, batch_df, *current in writes
        ]
        for f in computes:
            f.result()
    for sink, *_ in writes:
        sink.commit()
