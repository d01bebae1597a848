"""Failure-mode behavior: deterministic duplicate resolution in the
upsert merge, read errors that propagate instead of wiping state,
crash-safe store commits, and loud non-convergence in label
propagation."""

import builtins
import contextlib
import os
import shutil
from unittest import mock

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from spark_stream_kudu_spark.operators.dedup import propagate_min_labels
from spark_stream_kudu_spark.streaming.sinks import (
    UpsertParquetSink,
    merge_by_key,
    upsert_stores,
)


def test_merge_duplicate_keys_resolve_deterministically(spark):
    """Without __batch_id, duplicate keys in updates resolve to the
    lexicographically-largest non-key tuple — stable under shuffle
    nondeterminism, so replays converge to the same table."""
    updates = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 5), (2, "z", 1)], "k int, tag string, v int"
    )
    for _ in range(3):
        out = {
            r["k"]: (r["tag"], r["v"])
            for r in merge_by_key(None, updates.repartition(7), key="k").collect()
        }
        assert out == {1: ("b", 5), 2: ("z", 1)}


def test_merge_key_only_schema_still_dedupes(spark):
    updates = spark.createDataFrame([(1,), (1,), (2,)], "k int")
    rows = sorted(r["k"] for r in merge_by_key(None, updates, key="k").collect())
    assert rows == [1, 2]


def test_read_missing_table_is_none(spark, tmp_path):
    sink = UpsertParquetSink(str(tmp_path / "t"), key="k")
    assert sink.read(spark) is None


def test_read_corrupt_table_raises(spark, tmp_path):
    """A live version that EXISTS but fails to read must raise —
    returning None would make the next merge rewrite the store from
    empty, silently dropping all upserted state."""
    import glob

    sink = UpsertParquetSink(str(tmp_path / "t"), key="k")
    sink(spark.createDataFrame([(1, "x")], "k int, v string"), batch_id=0)
    parts = glob.glob(os.path.join(sink._live_dir(), "*.parquet"))
    assert parts
    for part in parts:
        with open(part, "w") as f:
            f.write("this is not parquet")
    sink = UpsertParquetSink(str(tmp_path / "t"), key="k")  # no cached schema
    with pytest.raises(Exception):
        df = sink.read(spark)
        assert df is not None
        df.collect()


def test_upsert_promotion_leaves_no_stale_dirs(spark, tmp_path):
    sink = UpsertParquetSink(str(tmp_path / "t"), key="k")
    b1 = spark.createDataFrame([(1, "x"), (2, "y")], "k int, v string")
    b2 = spark.createDataFrame([(2, "y2"), (3, "z")], "k int, v string")
    sink(b1, batch_id=0)
    sink(b2, batch_id=1)
    table = {r["k"]: r["v"] for r in sink.read(spark).collect()}
    assert table == {1: "x", 2: "y2", 3: "z"}
    # only the manifest's version survives a clean batch
    assert sorted(os.listdir(sink.path)) == ["_manifest.json", "v1"]


class _Crash(Exception):
    """A simulated process crash at an injected point."""


# Every filesystem call that can change a store directory.
_FS_CALLS = [
    (builtins, "open"),
    (os, "replace"),
    (os, "rename"),
    (os, "remove"),
    (os, "unlink"),
    (os, "makedirs"),
    (shutil, "rmtree"),
]


@contextlib.contextmanager
def _fs_calls(crash_at=None):
    """Record the filesystem calls made inside the block, and raise
    _Crash in place of call number ``crash_at``. A call made inside
    another one (rmtree's own unlinks) counts as part of it."""
    calls, depth = [], [0]

    def wrap(fn, name):
        def inner(*args, **kwargs):
            if depth[0]:
                return fn(*args, **kwargs)
            calls.append(name)
            if len(calls) - 1 == crash_at:
                raise _Crash(name)
            depth[0] += 1
            try:
                return fn(*args, **kwargs)
            finally:
                depth[0] -= 1

        return inner

    with contextlib.ExitStack() as stack:
        for mod, name in _FS_CALLS:
            stack.enter_context(
                mock.patch.object(mod, name, wrap(getattr(mod, name), name))
            )
        yield calls


def _write_then_crash():
    """Patch the Spark parquet write: the version directory is written,
    then the process "crashes" before anything else happens."""
    real = DataFrameWriter.parquet

    def parquet(self, *args, **kwargs):
        real(self, *args, **kwargs)
        raise _Crash("write")

    return mock.patch.object(DataFrameWriter, "parquet", parquet)


# combine -> (schema, batch 0, batch 1, contents after both batches)
_CRASH_SHAPES = {
    None: ("k int, v string", [(1, "a"), (2, "b")], [(2, "B"), (3, "c")],
           {1: "a", 2: "B", 3: "c"}),
    "sum": ("k int, v long", [(1, 10), (2, 5)], [(1, 5), (3, 7)],
            {1: 15, 2: 5, 3: 7}),
}


@pytest.mark.parametrize("combine", [None, "sum"])
def test_store_commit_crash_matrix(spark, tmp_path, combine):
    """Crash batch 1 at the Spark write of its version directory and at
    every filesystem call its commit makes; then reopen the store on
    the same path and replay batch 1, as Spark does after a restart.
    The store must read its old or its new contents right after the
    crash, and the no-crash contents after the replay — for a
    last-writer-wins and a sum store (a sum store double-counts if the
    data and the replay marker can commit apart)."""
    schema, rows0, rows1, want = _CRASH_SHAPES[combine]
    b0 = spark.createDataFrame(rows0, schema)
    b1 = spark.createDataFrame(rows1, schema)
    before = {k: v for k, v in rows0}

    def contents(path):
        df = UpsertParquetSink(path, key="k", combine=combine).read(spark)
        return {r["k"]: r["v"] for r in df.collect()}

    # A clean run names the commit's filesystem calls.
    clean = str(tmp_path / "clean")
    sink = UpsertParquetSink(clean, key="k", combine=combine)
    sink(b0, 0)
    assert sink.compute(b1, 1)
    with _fs_calls() as calls:
        sink.commit()
    assert calls, "commit made no filesystem call"
    assert contents(clean) == want

    for point in ["write", *range(len(calls))]:
        path = str(tmp_path / f"crash_{point}")
        sink = UpsertParquetSink(path, key="k", combine=combine)
        sink(b0, 0)
        if point == "write":
            with _write_then_crash(), pytest.raises(_Crash):
                sink(b1, 1)
        else:
            assert sink.compute(b1, 1)
            with _fs_calls(crash_at=point), pytest.raises(_Crash):
                sink.commit()
        assert contents(path) in (before, want), point
        UpsertParquetSink(path, key="k", combine=combine)(b1, 1)  # the replay
        assert contents(path) == want, f"crash at {point}"


def test_two_store_commit_order_survives_crash_between_commits(spark, tmp_path):
    """upsert_stores commits in the order given. The count store's
    input reads the key store, so the key store commits last: a crash
    between the two commits then replays against an unchanged key store
    and gives the no-crash contents. Committing the key store first
    makes the replay read the advanced key store and over-count."""
    key_batches = [[1, 2], [3]]

    def run(base, order, crash):
        def open_stores():
            return {
                "keys": UpsertParquetSink(os.path.join(base, "keys"), key="k"),
                "seen": UpsertParquetSink(
                    os.path.join(base, "seen"), key="name", combine="sum"
                ),
            }

        def upsert(stores, batch_id):
            inputs = {
                "keys": spark.createDataFrame(
                    [(k,) for k in key_batches[batch_id]], "k long"
                ),
                # reads the key store's live version
                "seen": spark.createDataFrame(
                    [("keys_before", stores["keys"].num_rows() or 0)],
                    "name string, n long",
                ),
            }
            upsert_stores(batch_id, *[(stores[s], inputs[s]) for s in order])

        stores = open_stores()
        upsert(stores, 0)
        if crash:
            real, commits = UpsertParquetSink.commit, []

            def commit(self):
                commits.append(self)
                if len(commits) == 2:
                    raise _Crash("between the commits")
                real(self)

            with mock.patch.object(UpsertParquetSink, "commit", commit):
                with pytest.raises(_Crash):
                    upsert(stores, 1)
            stores = open_stores()  # restart
        upsert(stores, 1)
        return (
            {r["k"] for r in stores["keys"].read(spark).collect()},
            {r["name"]: r["n"] for r in stores["seen"].read(spark).collect()},
        )

    no_crash = run(str(tmp_path / "a"), ("seen", "keys"), crash=False)
    assert no_crash == ({1, 2, 3}, {"keys_before": 2})
    assert run(str(tmp_path / "b"), ("seen", "keys"), crash=True) == no_crash
    assert run(str(tmp_path / "c"), ("keys", "seen"), crash=True) != no_crash


def _chain(spark, n):
    """Path graph 0-1-...-(n-1): min-label needs ~n rounds of simple
    propagation to reach the far end."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)] + [(i + 1, i) for i in range(n - 1)],
        "src long, dst long",
    )
    labels = spark.range(n).select(F.col("id").alias("node"), F.col("id").alias("lab"))
    return labels, edges


def test_label_propagation_raises_on_nonconvergence(spark):
    labels, edges = _chain(spark, 6)
    with pytest.raises(RuntimeError, match="did not converge"):
        propagate_min_labels(labels, edges, max_iter=2)


def test_label_propagation_converges_on_chain(spark):
    labels, edges = _chain(spark, 6)
    out = propagate_min_labels(labels, edges, max_iter=10)
    assert {r["lab"] for r in out.collect()} == {0}


def test_label_propagation_reliable_checkpoint(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    spark.sparkContext.setCheckpointDir(ckpt)
    labels, edges = _chain(spark, 5)
    out = propagate_min_labels(
        labels, edges, max_iter=10, reliable_checkpoint=True, checkpoint_interval=1
    )
    assert {r["lab"] for r in out.collect()} == {0}
    # reliable checkpoints actually landed on the checkpoint dir
    assert any(files for _, _, files in os.walk(ckpt))


def test_pagerank_reliable_checkpoint(spark, tmp_path, sf_smoke, monkeypatch):
    """q86_pagerank honors SPARK_GRAFT_CC_CHECKPOINT_DIR exactly as
    dedup_clusters does (shared lineage helper): reliable checkpoints
    land on the configured dir and the ranks are identical to the
    localCheckpoint run — the lineage-cut policy must never change
    values."""
    from spark_stream_kudu_spark.functions.lineage import RELIABLE_CKPT_ENV
    from spark_stream_kudu_spark.registry import load_all

    builder = load_all()["q86_pagerank"].builder
    monkeypatch.delenv(RELIABLE_CKPT_ENV, raising=False)
    plain = {r["node"]: r["rank_e9"] for r in builder(spark, sf_smoke).collect()}

    ckpt = str(tmp_path / "pr_ckpt")
    monkeypatch.setenv(RELIABLE_CKPT_ENV, ckpt)
    ckpted = {r["node"]: r["rank_e9"] for r in builder(spark, sf_smoke).collect()}
    assert ckpted == plain
    assert any(files for _, _, files in os.walk(ckpt))


def test_repetition_mode_fold_linear_on_long_doc(spark):
    """The text_repetition mode count must complete in bounded time on a
    book-length document (50k tokens). The old O(distinct x n)
    transform/filter would take minutes here; the sort + linear run fold
    finishes in seconds — and the metrics stay exact."""
    import time

    from spark_stream_kudu_spark.operators import pipeline as pl
    from pyspark.sql import functions as F

    # 50k tokens, 5k distinct, worst-case for the quadratic form; token
    # "t0" appears twice as often so the mode is unambiguous.
    toks = ["t%d" % (i % 5000) for i in range(50_000)] + ["t0"] * 10
    doc = spark.createDataFrame([(1, " ".join(toks))], "doc_id long, text string")

    t0 = time.time()
    rows = (
        doc.select("doc_id", pl.tokens(F.col("text")).alias("t"))
        .select(
            F.size("t").alias("n"),
            pl.mode_count(F.col("t")).alias("mode_count"),
        )
        .collect()
    )
    elapsed = time.time() - t0
    assert rows[0]["n"] == 50_010
    assert rows[0]["mode_count"] == 20  # t0: 10 from the cycle + 10 extra
    assert elapsed < 60, f"mode fold took {elapsed:.0f}s — not linear"


def test_additive_rollup_replay_does_not_double_count(spark, tmp_path):
    sink = UpsertParquetSink(str(tmp_path / "roll"), key="k", combine="sum")
    b0 = spark.createDataFrame([(1, 10), (2, 5)], "k int, n long")
    b1 = spark.createDataFrame([(1, 3), (3, 7)], "k int, n long")
    sink(b0, batch_id=0)
    sink(b1, batch_id=1)
    sink(b1, batch_id=1)  # replay: must be a no-op
    sink(b0, batch_id=0)  # stale replay: must be a no-op
    table = {r["k"]: r["n"] for r in sink.read(spark).collect()}
    assert table == {1: 13, 2: 5, 3: 7}


def test_spread_small_scan_is_conditional(spark):
    from spark_stream_kudu_spark.session import spread_small_scan

    cores = spark.sparkContext.defaultParallelism
    small = spark.createDataFrame([(i,) for i in range(10)], "x int").coalesce(1)
    assert spread_small_scan(small).rdd.getNumPartitions() == cores
    wide = spark.range(1000).repartition(cores * 2)
    # already-parallel input passes through untouched (no extra shuffle)
    assert spread_small_scan(wide) is wide


def test_byte_stats_kernel_survives_empty_payload(spark):
    """A zero-length blob must yield NULL stats (the oracle's behavior
    for an empty byte list), not a numpy reduction-on-empty crash that
    poisons the whole Arrow batch."""
    from spark_stream_kudu_spark.operators.multimodal import (
        BYTE_STATS_SCHEMA,
        byte_features_kernel,
        with_binary_payload,
    )

    docs = spark.createDataFrame(
        [(0, ""), (1, "ab")], "doc_id long, text string"
    )
    d = with_binary_payload(docs).select("doc_id", "payload")
    rows = d.mapInPandas(byte_features_kernel, schema=BYTE_STATS_SCHEMA).collect()
    by_id = {r["doc_id"]: r for r in rows}
    assert by_id[0]["n_bytes"] == 0
    assert by_id[0]["byte_sum"] is None
    assert by_id[0]["byte_min"] is None
    assert by_id[0]["mean_e4"] is None
    assert by_id[1]["n_bytes"] == 2
    assert by_id[1]["byte_sum"] == ord("a") + ord("b")


def test_incompatible_schema_evolution_fails_loudly(spark, tmp_path):
    """mergeSchema unions compatible schemas (column added) but an
    INCOMPATIBLE change (same column, conflicting type) must raise at
    read/collect — never silently coerce one generation's values."""
    a = str(tmp_path / "gen1")
    b = str(tmp_path / "gen2")
    spark.createDataFrame([(1, "x")], "k long, v string").write.parquet(a)
    spark.createDataFrame([(2, 7.5)], "k long, v double").write.parquet(b)
    with pytest.raises(Exception) as ei:
        spark.read.option("mergeSchema", "true").parquet(a, b).collect()
    assert "merge" in str(ei.value).lower() or "incompatible" in str(ei.value).lower()


def test_corrupt_media_payload_fails_loudly(spark):
    """Round 5: a corrupt container in a decode batch must FAIL the
    query (the kernel's ValueError propagates as a task failure), never
    silently drop the row — a partial feature table poisons downstream
    training with no signal. Complements the pure-Python rejection
    property tests by asserting the failure crosses the Arrow boundary."""
    import pandas as pd

    from spark_stream_kudu_spark.operators.multimodal import decode_ppm, decode_wav

    d = spark.createDataFrame(
        [(1, bytearray(b"JFIF not a supported container"))],
        "doc_id long, payload binary",
    )

    def make_kernel(decode):
        def kernel(batches):
            for pdf in batches:
                for p in pdf["payload"]:
                    decode(bytes(p))
                yield pd.DataFrame({"doc_id": pdf["doc_id"]})
        return kernel

    for decode in (decode_ppm, decode_wav):
        with pytest.raises(Exception):
            d.mapInPandas(make_kernel(decode), "doc_id long").collect()


def test_bitmap_kernel_rejects_negative_ids_loudly(spark):
    """Round-6 ADVICE: a negative user_id would hand shiftleft a
    negative shift amount, which the JVM masks to 6 bits — a corrupt
    mask, silently diverging from the DuckDB oracle. The kernel's
    dense-id contract must therefore fail LOUDLY on negatives (per-row
    assert_true), never fold them into a wrong bitmap."""
    from spark_stream_kudu_spark.operators.sketches import (
        bitmap_finalize,
        bitmap_words,
    )

    ok = spark.createDataFrame(
        [("a", 0), ("a", 62), ("a", 63), ("b", 1)],
        "event_type string, user_id long",
    )
    rows = {
        r["event_type"]: r["distinct_users"]
        for r in bitmap_finalize(bitmap_words(ok)).collect()
    }
    assert rows == {"a": 3, "b": 1}

    bad = spark.createDataFrame(
        [("a", 5), ("a", -1)], "event_type string, user_id long"
    )
    with pytest.raises(Exception) as ei:
        bitmap_finalize(bitmap_words(bad)).collect()
    assert "dense non-negative id contract" in str(ei.value)


def test_supply_cache_replaces_stale_partial_dir(spark, sf_smoke):
    """Round-6 ADVICE: an os.rename failure used to be read as 'another
    process won the race' unconditionally — but rename ALSO fails when a
    stale partial directory (crashed writer, no _SUCCESS) occupies the
    cache path, and the loser then read the incomplete directory. The
    marker must be re-checked: a marker-less occupant gets replaced."""
    import os
    import shutil

    from spark_stream_kudu_spark.operators.subqueries import supply_table

    good = supply_table(spark, sf_smoke)
    n = good.count()
    assert n > 0
    # locate the cache dir via the parquet scan's own input files
    a_file = good.inputFiles()[0].replace("file:", "")
    path = os.path.dirname(a_file)
    # simulate a crashed writer: valid dir degraded to marker-less junk
    shutil.rmtree(path)
    os.makedirs(path)
    with open(os.path.join(path, "part-zzz.parquet"), "wb") as f:
        f.write(b"not parquet")
    again = supply_table(spark, sf_smoke)
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    assert again.count() == n


def test_promote_staging_handles_race_and_stale_occupant(tmp_path):
    """The shared layout-cache promotion helper must cover all three
    rename-failure shapes: clean first promotion, losing a race to a
    COMPLETE copy (staging discarded, winner kept), and a stale
    marker-less occupant (replaced, not silently read)."""
    import os

    from spark_stream_kudu_spark.operators.layout import _promote_staging

    def mk(dirname, content, with_marker=True):
        d = tmp_path / dirname
        d.mkdir()
        (d / "data.txt").write_text(content)
        if with_marker:
            (d / "_SUCCESS").write_text("")
        return str(d)

    # 1. clean promotion
    path = str(tmp_path / "cache")
    marker = os.path.join(path, "_SUCCESS")
    _promote_staging(mk("s1", "first"), path, marker)
    assert open(os.path.join(path, "data.txt")).read() == "first"

    # 2. race lost to a complete copy: staging discarded, winner kept
    s2 = mk("s2", "second")
    _promote_staging(s2, path, marker)
    assert open(os.path.join(path, "data.txt")).read() == "first"
    assert not os.path.exists(s2)

    # 3. stale marker-less occupant: replaced by the good staging copy
    import shutil

    shutil.rmtree(path)
    os.makedirs(path)
    with open(os.path.join(path, "data.txt"), "w") as f:
        f.write("partial junk")
    _promote_staging(mk("s3", "third"), path, marker)
    assert open(os.path.join(path, "data.txt")).read() == "third"
    assert os.path.exists(marker)


def test_partitioned_events_replaces_stale_partial_dir(spark, sf_smoke):
    """End-to-end twin of the _promote_staging unit test through a real
    layout writer: a crashed writer's marker-less partial directory at
    the cache path must be replaced on the next call, never read."""
    import os
    import shutil

    from spark_stream_kudu_spark.operators.layout import partitioned_events

    good = partitioned_events(spark, sf_smoke)
    n = good.count()
    assert n > 0
    path = os.path.dirname(
        os.path.dirname(good.inputFiles()[0].replace("file:", ""))
    )
    shutil.rmtree(path)
    os.makedirs(os.path.join(path, "event_date=2024-01-01"))
    with open(
        os.path.join(path, "event_date=2024-01-01", "part-zzz.parquet"), "wb"
    ) as f:
        f.write(b"not parquet")
    again = partitioned_events(spark, sf_smoke)
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    assert again.count() == n


def test_bucketed_dir_sweep_reclaims_only_dead_pids(tmp_path, monkeypatch):
    """The bucketed-warehouse sweep removes dirs whose embedded pid is
    dead, leaves the CURRENT process's dir and any live process's dir,
    and skips old-format (no-pid) dirs."""
    import os
    import tempfile as _tf

    from spark_stream_kudu_spark.operators import layout
    from spark_stream_kudu_spark.operators.layout import (
        _sweep_dead_bucketed_dirs,
    )

    monkeypatch.setattr(_tf, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(layout, "_SWEPT_DEAD_DIRS", False)
    # A pid that cannot exist (beyond pid_max), the current pid, and an
    # old-format tag-only dir.
    dead = tmp_path / "ssk_bucketed_aaaa_99999999"
    own = tmp_path / f"ssk_bucketed_bbbb_{os.getpid()}"
    legacy = tmp_path / "ssk_bucketed_cccc"
    for d in (dead, own, legacy):
        d.mkdir()
        (d / "f").write_text("x")
    _sweep_dead_bucketed_dirs()
    assert not dead.exists()
    assert own.exists()
    assert legacy.exists()


def _rank_rows(spark):
    """Small multiply-tied input for the two-phase kernel's pin path."""
    from pyspark.sql import functions as F

    rows = [(i, (i * 7) % 5) for i in range(200)]
    df = spark.createDataFrame(rows, "k long, v long")
    return df.select("k", "v", F.expr("v div 2").alias("b1"))


def test_pin_mode_seam_kernel_parity(spark, tmp_path, monkeypatch):
    """SPARK_GRAFT_PIN_MODE (round-9 verdict item 2): the two-phase
    kernel's pin=True path must produce IDENTICAL ranks under all three
    pin mechanisms — the mode swaps durability, never values — and
    reliable mode must actually land checkpoint files on the configured
    store, exactly like the SPARK_GRAFT_CC_CHECKPOINT_DIR seam."""
    import os as _os

    from pyspark.sql import functions as F

    from spark_stream_kudu_spark.functions.lineage import (
        PIN_MODE_ENV,
        RELIABLE_CKPT_ENV,
    )
    from spark_stream_kudu_spark.functions.ranks import two_phase_order_stats

    def run():
        out = two_phase_order_stats(
            _rank_rows(spark),
            "b1",
            [F.asc("v"), F.asc("k")],
            rank_alias="rnk",
            n_alias="n",
            pin=True,
        )
        return {r["k"]: (r["rnk"], r["n"]) for r in out.collect()}

    monkeypatch.delenv(PIN_MODE_ENV, raising=False)
    local = run()

    monkeypatch.setenv(PIN_MODE_ENV, "persist")
    assert run() == local

    ckpt = str(tmp_path / "pin_ckpt")
    monkeypatch.setenv(PIN_MODE_ENV, "reliable")
    monkeypatch.setenv(RELIABLE_CKPT_ENV, ckpt)
    assert run() == local
    assert any(files for _, _, files in _os.walk(ckpt))


def test_pin_mode_seam_q144_all_modes(spark, sf_smoke, tmp_path, monkeypatch):
    """The registered kernel consumers run green under every pin mode:
    q144's pinned per-user rollup (the q144 melt) value-matches its
    local-mode result under persist and reliable."""
    from spark_stream_kudu_spark.functions.lineage import (
        PIN_MODE_ENV,
        RELIABLE_CKPT_ENV,
    )
    from spark_stream_kudu_spark.registry import load_all

    builder = load_all()["q144_rfm_segmentation"].builder

    def run():
        return sorted(map(tuple, builder(spark, sf_smoke).collect()))

    monkeypatch.delenv(PIN_MODE_ENV, raising=False)
    local = run()
    monkeypatch.setenv(PIN_MODE_ENV, "persist")
    assert run() == local
    monkeypatch.setenv(PIN_MODE_ENV, "reliable")
    monkeypatch.setenv(RELIABLE_CKPT_ENV, str(tmp_path / "q144_ckpt"))
    assert run() == local


def test_pin_lazy_mode_parity_and_release(spark, sf_smoke, tmp_path, monkeypatch):
    """pin(eager=False) (round-11): the lazy pin defers materialization
    into the first consuming action but keeps value parity across all
    three pin modes, and persist-mode lazy pins still register for
    release. Exercised through a registered consumer — the verify
    family's shared shingle/signature pass in dedup_verified_pairs."""
    from spark_stream_kudu_spark.functions.lineage import (
        PIN_MODE_ENV,
        RELIABLE_CKPT_ENV,
        pin,
        release_pins,
    )
    from spark_stream_kudu_spark.registry import load_all

    builder = load_all()["dedup_verified_pairs"].builder

    def run():
        out = sorted(map(tuple, builder(spark, sf_smoke).collect()))
        release_pins()
        return out

    monkeypatch.delenv(PIN_MODE_ENV, raising=False)
    local = run()
    monkeypatch.setenv(PIN_MODE_ENV, "persist")
    assert run() == local
    monkeypatch.setenv(PIN_MODE_ENV, "reliable")
    monkeypatch.setenv(RELIABLE_CKPT_ENV, str(tmp_path / "lazy_pin_ckpt"))
    assert run() == local

    # A persist-mode lazy pin registers for release even before any
    # action computes it.
    monkeypatch.setenv(PIN_MODE_ENV, "persist")
    df = pin(spark.range(11), eager=False)
    assert df.storageLevel.useMemory
    assert release_pins() == 1


def test_release_pins_unpersists_persist_mode_entries(spark, monkeypatch):
    """Persist-mode pins register for release and release_pins()
    actually removes their cache entries (round-10 advice: a bench
    sweep or long-lived driver under SPARK_GRAFT_PIN_MODE=persist must
    not accumulate MEMORY_AND_DISK entries without bound). In the
    default local mode nothing registers and the call is a no-op."""
    from spark_stream_kudu_spark.functions.lineage import (
        PIN_MODE_ENV,
        pin,
        release_pins,
    )

    release_pins()  # clean slate from any earlier test
    monkeypatch.delenv(PIN_MODE_ENV, raising=False)
    pin(spark.range(5))
    assert release_pins() == 0  # local mode registers nothing

    monkeypatch.setenv(PIN_MODE_ENV, "persist")
    df1 = pin(spark.range(7))
    df2 = pin(spark.range(9))
    assert df1.storageLevel.useMemory and df2.storageLevel.useMemory
    assert release_pins() == 2
    assert not df1.storageLevel.useMemory
    assert not df2.storageLevel.useMemory
    assert release_pins() == 0  # idempotent


def test_pin_mode_invalid_and_undirected_reliable_raise(spark, monkeypatch):
    """The seam fails LOUDLY on misconfiguration: an unknown mode and a
    reliable mode without a durable store both raise instead of
    silently degrading to an executor-local pin."""
    import pytest as _pytest

    from spark_stream_kudu_spark.functions.lineage import (
        PIN_MODE_ENV,
        RELIABLE_CKPT_ENV,
        pin,
    )

    df = spark.range(3)
    monkeypatch.setenv(PIN_MODE_ENV, "bogus")
    with _pytest.raises(ValueError, match="SPARK_GRAFT_PIN_MODE"):
        pin(df)
    monkeypatch.setenv(PIN_MODE_ENV, "reliable")
    monkeypatch.delenv(RELIABLE_CKPT_ENV, raising=False)
    with _pytest.raises(RuntimeError, match="durable checkpoint store"):
        pin(df)
