"""Property-based tests (hypothesis) for the invariants the engine's
correctness rests on — beyond the fixed fixtures:

- the upsert sink's merge is idempotent and last-writer-wins for ANY
  batch sequence (the property the reference asserts only in comments,
  KafkaToKuduJava.java:113-115)
- hash sampling/splitting is a pure function of the key: invariant
  under arbitrary repartitioning
- the rolling-hash fingerprint distinguishes token order but not
  partitioning/expression context

Examples are kept small (Spark round-trip per example) — these are
semantic properties, not load tests.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

KEYS = st.integers(min_value=0, max_value=5)
BATCH = st.lists(st.tuples(KEYS, st.integers(-100, 100)), min_size=0, max_size=8)


@pytest.fixture(scope="module")
def sess(spark):
    return spark


@SETTINGS
@given(batches=st.lists(BATCH, min_size=1, max_size=3))
def test_merge_by_key_last_writer_wins_any_sequence(sess, batches):
    """Folding any batch sequence through merge_by_key leaves exactly the
    last-written value per key, and re-applying the final batch is a
    no-op (idempotent replay)."""
    from spark_stream_kudu_spark.streaming.sinks import merge_by_key

    spark = sess
    schema = "k long, v long, __batch_id long"

    def to_df(batch):
        # __batch_id encodes arrival order; merge_by_key keeps the
        # highest per key (last writer) within a batch.
        return spark.createDataFrame(
            [(k, v, i) for i, (k, v) in enumerate(batch)], schema
        )

    state = None
    expected: dict[int, int] = {}
    for batch in batches:
        state = merge_by_key(state, to_df(batch), key="k")
        for k, v in batch:  # iteration order == arrival order
            expected[k] = v
    state_replayed = merge_by_key(state, to_df(batches[-1]), key="k")
    got = {r.k: r.v for r in state_replayed.collect()}
    assert got == expected


@SETTINGS
@given(
    ids=st.lists(st.integers(0, 10_000), min_size=1, max_size=30, unique=True),
    nparts=st.integers(1, 5),
)
def test_hash_sample_partition_invariant(sess, ids, nparts):
    """The hash-percentile sample selects an identical id set no matter
    how the input is partitioned."""
    from spark_stream_kudu_spark.operators.sampling import SAMPLE_PCT, _pct

    spark = sess
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    a = {r.doc_id for r in df.filter(_pct(F.col("doc_id")) < SAMPLE_PCT).collect()}
    b = {
        r.doc_id
        for r in df.repartition(nparts)
        .filter(_pct(F.col("doc_id")) < SAMPLE_PCT)
        .collect()
    }
    assert a == b


@SETTINGS
@given(
    tokens=st.lists(
        st.text(alphabet="abcdef", min_size=1, max_size=4), min_size=2, max_size=6
    )
)
def test_rolling_hash_detects_reorder(sess, tokens):
    """Same tokens -> same fingerprint; a genuinely different order (when
    tokens aren't all identical) -> different fingerprint with high
    probability (mod 2^31-1; no counterexample may exist for tiny
    alphabets, so only equality is asserted unconditionally)."""
    from spark_stream_kudu_spark.functions.hashing import md5_int32
    from spark_stream_kudu_spark.operators.text import _RH_BASE, _RH_MOD

    spark = sess

    def fp_expr(col):
        return F.aggregate(
            F.transform(col, md5_int32),
            F.lit(0).cast("long"),
            lambda acc, x: (acc * _RH_BASE + x) % _RH_MOD,
        )

    df = spark.createDataFrame([(tokens, list(reversed(tokens)))], "a array<string>, b array<string>")
    row = df.select(
        fp_expr(F.col("a")).alias("fa"),
        fp_expr(F.col("b")).alias("fb"),
        fp_expr(F.reverse(F.col("b"))).alias("fa2"),
    ).first()
    assert row.fa == row.fa2  # determinism: same order, same value
    if tokens != list(reversed(tokens)):
        assert row.fa != row.fb  # order sensitivity


@SETTINGS
@given(
    rows=st.lists(st.tuples(KEYS, st.integers(-100, 100)), min_size=1, max_size=16),
    cuts=st.lists(st.integers(0, 15), min_size=0, max_size=3),
)
def test_merge_additive_is_batch_split_independent(sess, rows, cuts):
    """Folding ANY partitioning of the rows into batches through
    the sum merge_aggregate yields the same per-key sums as one global
    groupBy — the property that makes the incremental rollup equal the
    one-shot batch rollup regardless of micro-batch boundaries."""
    from spark_stream_kudu_spark.streaming.sinks import merge_aggregate

    spark = sess
    bounds = sorted({c for c in cuts if c < len(rows)})
    batches, prev = [], 0
    for b in bounds + [len(rows)]:
        if b > prev:
            batches.append(rows[prev:b])
            prev = b
    state = None
    for batch in batches:
        df = spark.createDataFrame(batch, "k long, n long")
        state = merge_aggregate(state, df, key="k", combine="sum")
    got = {r["k"]: r["n"] for r in state.collect()}
    expected: dict[int, int] = {}
    for k, v in rows:
        expected[k] = expected.get(k, 0) + v
    assert got == expected


WORDS = st.sampled_from(["a", "b", "c", "d", "e"])
DOC = st.lists(WORDS, min_size=1, max_size=10).map(" ".join)


@SETTINGS
@given(texts=st.lists(DOC, min_size=2, max_size=8))
def test_prefix_filter_complete_for_any_corpus(sess, texts):
    """For ANY small corpus, the prefix-filtered join emits exactly the
    naive all-pairs J >= t set — the zero-false-negative guarantee the
    operator's docstring claims, fuzzed rather than assumed."""
    from spark_stream_kudu_spark.operators.dedup import (
        SHINGLE_N,
        prefix_filter_pairs,
    )
    from tests.test_dedup_scale import _naive_jaccard_pairs

    spark = sess
    rows = list(enumerate(texts))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (p["doc_a"], p["doc_b"])
        for p in prefix_filter_pairs(docs, 0.5).collect()
    }
    want = _naive_jaccard_pairs(rows, SHINGLE_N, 0.5)
    assert got == want


# --------------------------------------------------------------------------
# Drift finalizers: property-fuzzed against textbook formulas
# --------------------------------------------------------------------------

_CELL = st.integers(min_value=0, max_value=50)
_GRID = st.dictionaries(
    st.tuples(st.sampled_from(["a", "b"]), st.integers(0, 1), st.integers(0, 9)),
    _CELL,
    min_size=1,
    max_size=20,
)


@SETTINGS
@given(grid=_GRID)
def test_psi_finalize_matches_textbook_for_any_grid(sess, grid):
    """psi_from_counts == the textbook dense-grid Laplace PSI for ANY
    sparse (type, period, bin) count table hypothesis can produce."""
    import math
    from collections import defaultdict

    from spark_stream_kudu_spark.operators.drift import psi_from_counts

    rows = [(et, p, b, c) for (et, p, b), c in grid.items()]
    df = sess.createDataFrame(
        rows, "event_type string, period int, bin long, c long"
    )
    got = {
        r["event_type"]: (r["n_ref"], r["n_cur"], r["psi"])
        for r in psi_from_counts(df).collect()
    }
    ca: dict = defaultdict(lambda: defaultdict(int))
    cb: dict = defaultdict(lambda: defaultdict(int))
    for (et, p, b), c in grid.items():
        (ca if p == 0 else cb)[et][b] += c
    for et in {k[0] for k in grid}:
        na = sum(ca[et].values())
        nb = sum(cb[et].values())
        psi = 0.0
        for b in range(10):
            pa = (ca[et][b] + 1.0) / (na + 10)
            pb = (cb[et][b] + 1.0) / (nb + 10)
            psi += (pb - pa) * math.log(pb / pa)
        assert got[et] == (na, nb, math.floor(psi * 1e6 + 0.5) / 1e6)


_HISTO = st.dictionaries(
    st.tuples(st.sampled_from(["a", "b"]), st.integers(0, 30)),
    st.tuples(st.integers(0, 20), st.integers(0, 20)),
    min_size=1,
    max_size=25,
)


@SETTINGS
@given(h=_HISTO)
def test_ks_finalize_matches_ecdf_for_any_histogram(sess, h):
    """ks_from_value_counts == a direct ECDF sweep for ANY value
    histogram, provided each side of each type has mass (the operator's
    precondition — empty sides divide by zero in any KS)."""
    import math
    from collections import defaultdict

    from spark_stream_kudu_spark.operators.drift import ks_from_value_counts

    per_type: dict = defaultdict(dict)
    for (et, v), (a, b) in h.items():
        per_type[et][v] = (a, b)
    per_type = {
        et: vs
        for et, vs in per_type.items()
        if sum(a for a, _ in vs.values()) > 0 and sum(b for _, b in vs.values()) > 0
    }
    if not per_type:
        return
    rows = [
        (et, v, a, b) for et, vs in per_type.items() for v, (a, b) in vs.items()
    ]
    df = sess.createDataFrame(rows, "event_type string, cents long, a long, b long")
    got = {
        r["event_type"]: (r["n_ref"], r["n_cur"], r["ks_stat"])
        for r in ks_from_value_counts(df).collect()
    }
    for et, vs in per_type.items():
        na = sum(a for a, _ in vs.values())
        nb = sum(b for _, b in vs.values())
        cum_a = cum_b = 0
        d = 0.0
        for v in sorted(vs):
            a, b = vs[v]
            cum_a += a
            cum_b += b
            d = max(d, abs(cum_a * 1.0 / na - cum_b * 1.0 / nb))
        assert got[et] == (na, nb, math.floor(d * 1e6 + 0.5) / 1e6)


# --------------------------------------------------------------------------
# q163 histogram sketch: the integer log-linear bin formula
# --------------------------------------------------------------------------


def _py_bin(x: int) -> tuple[int, int, int]:
    """Plain-Python mirror of hq_bin_columns (bin_id, lo16, hi16)."""
    k = x.bit_length() - 1
    base = 1 << k
    s = (x - base) * 16 // base
    return k * 16 + s, base * (16 + s), base * (17 + s)


@SETTINGS
@given(xs=st.lists(st.integers(min_value=1, max_value=1 << 40), min_size=1, max_size=12))
def test_hq_bin_formula_bounds_and_monotonicity(sess, xs):
    """For ANY positive value: the assigned log-linear bin contains the
    value (lo16 <= 16x < hi16), bin ids are monotone in the value
    (quantile selection by bin order is order-correct), and the bin's
    relative width is <= 1/16 of its lower bound (the sketch's error
    bound). The Spark expression must agree with the plain-Python
    mirror exactly."""
    for x in xs:
        b, lo16, hi16 = _py_bin(x)
        assert lo16 <= 16 * x < hi16, x
        assert (hi16 - lo16) * 16 <= lo16, x  # width/lo <= 1/16
    for a, b2 in zip(sorted(xs), sorted(xs)[1:]):
        assert _py_bin(a)[0] <= _py_bin(b2)[0]

    from spark_stream_kudu_spark.operators.statistics import hq_bin_columns

    df = sess.createDataFrame([(x,) for x in xs], "cents long")
    bin_id, lo16, hi16 = hq_bin_columns("cents")
    rows = df.select("cents", bin_id, lo16, hi16).collect()
    for r in rows:
        assert (r["bin_id"], r["lo16"], r["hi16"]) == _py_bin(r["cents"]), r


# --------------------------------------------------------------------------
# q166 FIFO via interval overlap == the textbook sequential algorithm
# --------------------------------------------------------------------------

QTY = st.integers(min_value=1, max_value=20)


@SETTINGS
@given(
    supply=st.lists(QTY, min_size=1, max_size=6),
    demand=st.lists(QTY, min_size=1, max_size=6),
)
def test_fifo_overlap_equals_sequential_walk(sess, supply, demand):
    """The cumulative-interval range join (q166's formulation) produces
    EXACTLY the allocations of the obvious sequential FIFO walk —
    pointer over lots, pointer over demands, allocate
    min(remaining, remaining) — for any lot/demand quantity sequence."""
    # textbook sequential FIFO
    expect = {}
    si, di, srem, drem = 0, 0, supply[0], demand[0]
    while si < len(supply) and di < len(demand):
        take = min(srem, drem)
        if take > 0:
            expect[(si, di)] = expect.get((si, di), 0) + take
        srem -= take
        drem -= take
        if srem == 0:
            si += 1
            srem = supply[si] if si < len(supply) else 0
        if drem == 0:
            di += 1
            drem = demand[di] if di < len(demand) else 0

    # q166's formulation: cumulative intervals + overlap join
    s_hi, s_lo = [], []
    acc = 0
    for q in supply:
        s_lo.append(acc)
        acc += q
        s_hi.append(acc)
    d_hi, d_lo = [], []
    acc = 0
    for q in demand:
        d_lo.append(acc)
        acc += q
        d_hi.append(acc)
    got = {}
    for i in range(len(supply)):
        for j in range(len(demand)):
            if s_lo[i] < d_hi[j] and d_lo[j] < s_hi[i]:
                got[(i, j)] = min(s_hi[i], d_hi[j]) - max(s_lo[i], d_lo[j])
    assert got == expect


# --------------------------------------------------------------------------
# q171 Hamilton proration == the textbook per-order allocation
# --------------------------------------------------------------------------


@SETTINGS
@given(
    weights=st.lists(st.integers(min_value=1, max_value=10_000), min_size=1, max_size=8),
    total=st.integers(min_value=0, max_value=1_000_000),
)
def test_hamilton_proration_matches_textbook(sess, weights, total):
    """q171's windowed formulation (integer base shares + leftover to
    largest remainders with line tiebreak) equals the direct
    largest-remainder computation, sums exactly to the total, and every
    share is within 1 of the unrounded proportional value."""
    W = sum(weights)
    base = [total * w // W for w in weights]
    rem = [(total * w) % W for w in weights]
    leftover = total - sum(base)
    order = sorted(range(len(weights)), key=lambda i: (-rem[i], i))
    expect = list(base)
    for i in order[:leftover]:
        expect[i] += 1
    assert sum(expect) == total
    for w, a in zip(weights, expect):
        assert abs(a - total * w / W) < 1 + 1e-9

    # the windowed formulation q171 executes, mirrored in plain python
    rk = {i: r + 1 for r, i in enumerate(order)}
    got = [base[i] + (1 if rk[i] <= leftover else 0) for i in range(len(weights))]
    assert got == expect


# --------------------------------------------------------------------------
# multimodal block-hash kernel == plain-Python mirror on arbitrary bytes
# --------------------------------------------------------------------------


def _py_blockhash(payload: bytes) -> tuple[int, int]:
    n = len(payload)
    total = sum(payload)
    h1 = h2 = 0
    for k in range(64):
        lo, hi = k * n // 64, (k + 1) * n // 64
        s = sum(payload[lo:hi])
        bit = 1 if s * n >= total * (hi - lo) else 0
        if k < 32:
            h1 |= bit << k
        else:
            h2 |= bit << (k - 32)
    return h1, h2


@SETTINGS
@given(
    payloads=st.lists(
        st.binary(min_size=1, max_size=200), min_size=1, max_size=6
    )
)
def test_blockhash_kernel_matches_python_mirror(sess, payloads):
    """The Arrow numpy block-hash kernel (reduceat + cross-multiplied
    integer bits) equals the obvious per-byte Python computation for
    ANY payload — including payloads shorter than 64 bytes, where
    empty blocks must hash deterministically."""
    import pandas as pd

    from spark_stream_kudu_spark.operators.multimodal import blockhash_kernel

    pdf = pd.DataFrame(
        {"doc_id": list(range(len(payloads))), "payload": payloads}
    )
    out = pd.concat(list(blockhash_kernel(iter([pdf]))))
    got = {int(r["doc_id"]): (int(r["h1"]), int(r["h2"])) for _, r in out.iterrows()}
    for i, p in enumerate(payloads):
        assert got[i] == _py_blockhash(p), (i, p)


# --------------------------------------------------------------------------
# q157 Space-Saving: per-partition invariants + merge bound containment
# (same treatment as the MG kernel and the histogram bin formula —
# hypothesis-generated adversarial streams, tiny capacities that force
# evictions, and the REAL Spark merge math on the resulting summaries)
# --------------------------------------------------------------------------

_SS_ITEM = st.integers(min_value=0, max_value=30).map(lambda i: f"t{i}")
_SS_STREAM = st.lists(_SS_ITEM, min_size=1, max_size=120)


@SETTINGS
@given(
    parts=st.lists(_SS_STREAM, min_size=1, max_size=4),
    m=st.sampled_from([2, 4, 8]),
    cuts=st.lists(st.integers(0, 119), max_size=3),
)
def test_space_saving_bounds_for_any_stream(sess, parts, m, cuts):
    """For ANY stream, ANY batch slicing of it, and capacities small
    enough to force evictions: every kept counter satisfies
    est >= true_partition_count >= est - err, every item absent from a
    partition's summary has true count <= that partition's floor
    offset, and after merging the summaries through the REAL Spark
    ss_merge_bounds every item's TOTAL true count lies in
    [lower, upper] (items surfacing in no summary are bounded by the
    summed floors). This is the math q157 and stream_topk_e2e both
    stand on — valid for any disjoint slicing of the stream."""
    from collections import Counter

    import pandas as pd

    from spark_stream_kudu_spark.operators import sketches as sk

    orig_m = sk._SS_M
    sk._SS_M = m
    try:
        rows = []
        offsets: dict[int, int] = {}
        for pid, stream in enumerate(parts):
            idx = sorted({c % (len(stream) + 1) for c in cuts})
            marks = [0] + idx + [len(stream)]
            batches = [
                pd.DataFrame({"item": stream[a:b], "pid": pid})
                for a, b in zip(marks, marks[1:])
            ]
            out = list(sk.ss_summarize(iter(batches)))
            summ = pd.concat(out) if out else pd.DataFrame(
                columns=["item", "est", "err", "pid", "absent_ub"]
            )
            true_p = Counter(stream)
            kept = set()
            for _, r in summ.iterrows():
                kept.add(r["item"])
                t = true_p[r["item"]]
                assert r["est"] >= t >= r["est"] - r["err"], (pid, dict(r))
            offset = int(summ["absent_ub"].max()) if len(summ) else 0
            offsets[pid] = offset
            for item, t in true_p.items():
                if item not in kept:
                    assert t <= offset, (pid, item, t, offset)
            rows.extend(summ.to_dict("records"))

        from spark_stream_kudu_spark.operators.sketches import (
            ss_merge_bounds,
            ss_summary_schema,
        )

        summ_df = sess.createDataFrame(rows, ss_summary_schema())
        bounds = {
            r["cand"]: (r["lower"], r["upper"])
            for r in ss_merge_bounds(summ_df).collect()
        }
        total = Counter()
        for stream in parts:
            total.update(stream)
        total_ub = sum(offsets.values())
        for item, t in total.items():
            if item in bounds:
                lo, hi = bounds[item]
                assert lo <= t <= hi, (item, t, lo, hi)
            else:
                assert t <= total_ub, (item, t, total_ub)
    finally:
        sk._SS_M = orig_m


# --------------------------------------------------------------------------
# Multimodal container decoders: encode/decode round-trip for ANY content
# (the PPM/WAV/clip kernels are real binary-format implementations; these
# pin them against plain-Python re-encodings and malformed-input rejection)
# --------------------------------------------------------------------------


def _py_ppm(w: int, h: int, pix: bytes) -> bytes:
    return b"P6\n%d %d\n255\n" % (w, h) + pix


@SETTINGS
@given(
    w=st.integers(1, 9),
    h=st.integers(1, 9),
    data=st.data(),
)
def test_ppm_decoder_roundtrip_any_image(sess, w, h, data):
    """decode_ppm inverts the straightforward P6 encoding for ANY pixel
    content (including bytes that look like header whitespace), and
    rejects payloads with a wrong magic or maxval."""
    import numpy as np
    import pytest as _pytest

    from spark_stream_kudu_spark.operators.multimodal import decode_ppm

    pix = data.draw(
        st.binary(min_size=w * h * 3, max_size=w * h * 3), label="pix"
    )
    got_w, got_h, arr = decode_ppm(_py_ppm(w, h, pix))
    assert (got_w, got_h) == (w, h)
    assert arr.shape == (h, w, 3)
    assert arr.tobytes() == pix
    assert arr.dtype == np.uint8
    with _pytest.raises(ValueError):
        decode_ppm(b"P5\n1 1\n255\n" + b"\x00" * 3)
    with _pytest.raises(ValueError):
        decode_ppm(b"P6\n1 1\n65535\n" + b"\x00" * 3)


@SETTINGS
@given(samples=st.binary(min_size=1, max_size=256), rate=st.integers(1, 48000))
def test_wav_decoder_roundtrip_any_pcm(sess, samples, rate):
    """decode_wav inverts a straightforward RIFF/WAVE encoding for ANY
    8-bit sample content and rate, tolerates an extra (skippable) chunk
    before data, and rejects non-PCM formats."""
    import pytest as _pytest

    from spark_stream_kudu_spark.operators.multimodal import decode_wav

    def wav(fmt: int = 1, extra: bytes = b"") -> bytes:
        fmt_body = (
            fmt.to_bytes(2, "little")
            + (1).to_bytes(2, "little")
            + rate.to_bytes(4, "little")
            + rate.to_bytes(4, "little")
            + (1).to_bytes(2, "little")
            + (8).to_bytes(2, "little")
        )
        chunks = (
            b"fmt " + len(fmt_body).to_bytes(4, "little") + fmt_body
            + extra
            + b"data" + len(samples).to_bytes(4, "little") + samples
            + (b"\x00" if len(samples) % 2 else b"")
        )
        return b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks

    got_rate, arr = decode_wav(wav())
    assert got_rate == rate
    assert arr.tobytes() == samples
    # a LIST-style chunk between fmt and data must be skipped, not parsed
    junk = b"LIST" + (6).to_bytes(4, "little") + b"junk12"
    got_rate2, arr2 = decode_wav(wav(extra=junk))
    assert (got_rate2, arr2.tobytes()) == (rate, samples)
    with _pytest.raises(ValueError):
        decode_wav(wav(fmt=3))  # IEEE float PCM: unsupported
    with _pytest.raises(ValueError):
        decode_wav(b"RIFX" + wav()[4:])


@SETTINGS
@given(
    frames=st.lists(
        st.tuples(st.integers(1, 5), st.integers(1, 5)), min_size=1, max_size=4
    ),
    data=st.data(),
)
def test_ppm_stream_demux_any_clip(sess, frames, data):
    """demux_ppm_stream recovers every frame of a concatenated-PPM clip
    in order — frames may have different dims and arbitrary pixel
    bytes — and raises on a corrupt mid-stream magic."""
    from spark_stream_kudu_spark.operators.multimodal import demux_ppm_stream

    blobs = []
    for i, (w, h) in enumerate(frames):
        pix = data.draw(
            st.binary(min_size=w * h * 3, max_size=w * h * 3), label=f"pix{i}"
        )
        blobs.append((w, h, pix))
    clip = b"".join(_py_ppm(w, h, p) for w, h, p in blobs)
    out = list(demux_ppm_stream(clip))
    assert len(out) == len(blobs)
    for (w, h, pix), (gw, gh, arr) in zip(blobs, out):
        assert (gw, gh) == (w, h)
        assert arr.tobytes() == pix
    import pytest as _pytest

    with _pytest.raises(ValueError):
        list(demux_ppm_stream(clip + b"XX garbage"))


# --------------------------------------------------------------------------
# q178 Count-Min: kernel == plain-Python grid, merge additivity, and the
# never-underestimate guarantee for ANY stream / slicing / tiny widths
# that force heavy collisions
# --------------------------------------------------------------------------

_CM_ITEM = st.integers(min_value=0, max_value=30).map(lambda i: f"t{i}")
_CM_STREAM = st.lists(_CM_ITEM, min_size=1, max_size=120)


@SETTINGS
@given(
    parts=st.lists(_CM_STREAM, min_size=1, max_size=4),
    w=st.sampled_from([4, 8, 16]),
    cuts=st.lists(st.integers(0, 119), max_size=3),
)
def test_countmin_grid_merge_and_overestimate(sess, parts, w, cuts):
    """For ANY stream, ANY batch slicing, and widths small enough to
    force collisions: (1) the Arrow kernel's grid equals a plain-Python
    recount cell-for-cell, (2) per-partition grids merged by cell-wise
    addition equal the one-shot grid over the concatenated stream (the
    additivity q178's groupBy-SUM merge stands on, valid for any
    disjoint slicing), and (3) the point query min over d cells NEVER
    underestimates any item's total count — Count-Min's deterministic
    guarantee, which holds regardless of collision pressure."""
    from collections import Counter

    import numpy as np
    import pandas as pd

    from spark_stream_kudu_spark.operators import sketches as sk

    orig_w = sk._CM_W
    sk._CM_W = w
    try:
        def grid_of(rows):
            g = np.zeros((sk._CM_D, w), dtype=np.int64)
            for r in rows:
                g[int(r["r"]), int(r["c"])] += int(r["cnt"])
            return g

        merged = np.zeros((sk._CM_D, w), dtype=np.int64)
        for stream in parts:
            idx = sorted({c % (len(stream) + 1) for c in cuts})
            marks = [0] + idx + [len(stream)]
            batches = [
                pd.DataFrame({"item": stream[a:b]})
                for a, b in zip(marks, marks[1:])
            ]
            out = list(sk.cm_summarize(iter(batches)))
            got = grid_of(pd.concat(out).to_dict("records") if out else [])
            want = np.zeros((sk._CM_D, w), dtype=np.int64)
            for item, c in Counter(stream).items():
                for r in range(sk._CM_D):
                    want[r, sk._cm_col(r, item)] += c
            assert (got == want).all(), (stream, got, want)
            merged += got

        whole = []
        for stream in parts:
            whole.extend(stream)
        out = list(sk.cm_summarize(iter([pd.DataFrame({"item": whole})])))
        one_shot = grid_of(pd.concat(out).to_dict("records") if out else [])
        assert (merged == one_shot).all()

        for item, t in Counter(whole).items():
            est = min(
                int(merged[r, sk._cm_col(r, item)]) for r in range(sk._CM_D)
            )
            assert est >= t, (item, est, t)
    finally:
        sk._CM_W = orig_w


# --------------------------------------------------------------------------
# dedup_exact_substring: the one-window-pass interval union vs a plain
# interval merge, for ANY interval multiset (overlaps, containment,
# duplicates, touching spans)
# --------------------------------------------------------------------------

_IV = st.tuples(st.integers(0, 40), st.integers(1, 12)).map(
    lambda t: (t[0], t[0] + t[1])
)


@SETTINGS
@given(
    ivs=st.lists(st.tuples(st.integers(0, 2), _IV), min_size=1, max_size=25)
)
def test_interval_union_matches_sweep(sess, ivs):
    """interval_union_per_key's running-max window formula must equal a
    textbook sorted interval merge for ANY multiset of half-open
    integer intervals per key — including exact duplicates, nested
    containment, shared starts, and intervals that touch end-to-start
    (which union seamlessly for half-open semantics)."""
    from collections import defaultdict

    from spark_stream_kudu_spark.operators.dedup import interval_union_per_key

    df = sess.createDataFrame(
        [(k, s, e) for k, (s, e) in ivs], "doc_id int, pos long, e long"
    )
    got = {
        r["doc_id"]: (r["n_intervals"], r["union_len"])
        for r in interval_union_per_key(df, "doc_id", "pos", "e").collect()
    }

    per_key = defaultdict(list)
    for k, (s, e) in ivs:
        per_key[k].append((s, e))
    for k, spans in per_key.items():
        merged = []
        for s, e in sorted(spans):
            if merged and s <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], e)
            else:
                merged.append([s, e])
        want = sum(e - s for s, e in merged)
        assert got[k] == (len(spans), want), (k, spans, got[k], want)


@SETTINGS
@given(items=st.lists(st.text(min_size=0, max_size=24), min_size=1, max_size=24, unique=True))
def test_countmin_hash_agrees_across_the_arrow_boundary(sess, items):
    """q178's one cross-boundary contract: the JVM-side cm_hash_col
    (crc32 of the UTF-8 bytes of 'r:item') must equal the Python
    kernel's _cm_col for ANY string content — including unicode,
    whitespace, and empty strings — or estimate probes address cells
    the kernel never populated and the never-underestimate flag lies."""
    from pyspark.sql import functions as F

    from spark_stream_kudu_spark.operators import sketches as sk

    df = sess.createDataFrame([(i,) for i in items], "item string")
    rows = df.select(
        "item", *[sk.cm_hash_col(r, F.col("item")).alias(f"c{r}") for r in range(sk._CM_D)]
    ).collect()
    for row in rows:
        for r in range(sk._CM_D):
            assert row[f"c{r}"] == sk._cm_col(r, row["item"]), (row["item"], r)


_BM_IDS = st.lists(
    st.integers(min_value=0, max_value=300), min_size=1, max_size=40
)


@SETTINGS
@given(ids_a=_BM_IDS, ids_b=_BM_IDS)
def test_bitmap_words_popcount_and_algebra_for_any_ids(sess, ids_a, ids_b):
    """For ARBITRARY id lists (duplicates, word-boundary ids like 0 /
    62 / 63 / multiples of 63), the Spark bitmap kernel's popcount
    equals the true distinct count per key, splitting the input into
    two halves and OR-merging the words reproduces the one-shot
    bitmap EXACTLY, and the q185 AND-intersection equals the true set
    intersection — all through the real JVM expressions, not a Python
    re-derivation."""
    from spark_stream_kudu_spark.operators.sketches import (
        bitmap_finalize,
        bitmap_words,
    )

    rows = [("a", i) for i in ids_a] + [("b", i) for i in ids_b]
    df = sess.createDataFrame(rows, "event_type string, user_id long")
    words = {
        (r["event_type"], r["word"]): r["mask"]
        for r in bitmap_words(df).collect()
    }
    fin = {
        r["event_type"]: r["distinct_users"]
        for r in bitmap_finalize(bitmap_words(df)).collect()
    }
    assert fin == {"a": len(set(ids_a)), "b": len(set(ids_b))}
    # split-merge: OR of half-bitmaps == one-shot bitmap, word for word
    # (deterministic split by parity of user_id)
    h1, h2 = df.filter("user_id % 2 = 0"), df.filter("user_id % 2 = 1")
    merged = (
        bitmap_words(h1)
        .unionByName(bitmap_words(h2))
        .groupBy("event_type", "word")
        .agg(F.expr("bit_or(mask)").alias("mask"))
    )
    words2 = {
        (r["event_type"], r["word"]): r["mask"] for r in merged.collect()
    }
    assert words2 == words
    # AND-intersection popcount == true set intersection size
    inter_true = len(set(ids_a) & set(ids_b))
    wa = {k[1]: v for k, v in words.items() if k[0] == "a"}
    wb = {k[1]: v for k, v in words.items() if k[0] == "b"}
    inter_df = sess.createDataFrame(
        [(w, wa[w], wb[w]) for w in set(wa) & set(wb)] or [(0, 0, 0)],
        "word long, ma long, mb long",
    ).agg(F.sum(F.expr("bit_count(ma & mb)")).alias("n"))
    assert (inter_df.collect()[0]["n"] or 0) == inter_true


_RID_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),   # bucket
        st.integers(min_value=-50, max_value=50),  # order value
    ),
    min_size=1,
    max_size=30,
)


@SETTINGS
@given(rows=_RID_ROWS)
def test_two_phase_rowid_equals_flat_sort_for_any_rows(sess, rows):
    """two_phase_rowid (bucket offsets + in-bucket ranks) must equal a
    flat global sort's 0-based row numbering for ARBITRARY bucketed
    rows, including duplicate (bucket, val) pairs — ties broken by a
    unique key to keep the order total, exactly as the production
    callers do."""
    from spark_stream_kudu_spark.operators.layout import two_phase_rowid

    data = [(b, v, i) for i, (b, v) in enumerate(rows)]  # i = unique key
    df = sess.createDataFrame(data, "bucket long, val long, uid long")
    got = {
        r["uid"]: r["rowid"]
        for r in two_phase_rowid(df, "bucket", ["val", "uid"]).collect()
    }
    want = {
        uid: pos
        for pos, (b, v, uid) in enumerate(
            sorted(data, key=lambda t: (t[0], t[1], t[2]))
        )
    }
    assert got == want


_RUN_SEQ = st.lists(
    st.integers(min_value=0, max_value=3), min_size=1, max_size=40
)


@SETTINGS
@given(vals=_RUN_SEQ, bucket_size=st.integers(min_value=1, max_value=7))
def test_bucketed_run_count_stitch_equals_flat_runs(sess, vals, bucket_size):
    """The encoding advisor's two-phase run count (per-bucket runs
    minus boundary merges where prev bucket's last value equals the
    next bucket's first) must equal the flat single-pass run count for
    ANY value sequence and ANY bucket size — including runs spanning
    several buckets."""
    from pyspark.sql import Window

    data = [(i // bucket_size, i, v) for i, v in enumerate(vals)]
    df = sess.createDataFrame(data, "bucket long, pos long, val long")
    w = Window.partitionBy("bucket").orderBy("pos")
    lagv = F.lag("val").over(w)
    flagged = df.select(
        "bucket",
        "val",
        F.when(lagv.isNull() | (lagv != F.col("val")), 1)
        .otherwise(0)
        .alias("new_run"),
        F.struct("pos", "val").alias("p"),
    )
    per_bucket = flagged.groupBy("bucket").agg(
        F.sum("new_run").alias("runs_in"),
        F.min("p").getField("val").alias("first_val"),
        F.max("p").getField("val").alias("last_val"),
    )
    wb = Window.orderBy("bucket")
    stitched = per_bucket.select(
        "runs_in",
        F.when(F.lag("last_val").over(wb) == F.col("first_val"), 1)
        .otherwise(0)
        .alias("merged"),
    ).agg((F.sum("runs_in") - F.sum("merged")).alias("n_runs"))
    got = stitched.collect()[0]["n_runs"]
    want = 1 + sum(1 for a, b in zip(vals, vals[1:]) if a != b)
    assert got == want


_KC_EDGES = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=14),
        st.integers(min_value=0, max_value=14),
    ),
    min_size=1,
    max_size=40,
)


@SETTINGS
@given(raw=_KC_EDGES, k=st.integers(min_value=1, max_value=4))
def test_kcore_trajectory_matches_python_peeling(sess, raw, k):
    """For ARBITRARY small graphs and k, the Spark peel loop's
    (n_nodes, n_edges) trajectory — including the frontier-gated
    converged tail — equals plain-Python peeling round by round,
    through the real JVM joins (not a Python re-derivation)."""
    from spark_stream_kudu_spark.operators.graph import kcore_trajectory

    edges = sorted({(min(a, b), max(a, b)) for a, b in raw if a != b})
    if not edges:
        return
    rounds = 5

    # plain-Python reference peel
    want = []
    cur = list(edges)
    for r in range(1, rounds + 1):
        deg: dict[int, int] = {}
        for u, v in cur:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        surv = {n for n, c in deg.items() if c >= k}
        cur = [(u, v) for u, v in cur if u in surv and v in surv]
        want.append((r, len(surv), len(cur)))

    df = sess.createDataFrame(edges, "u long, v long")
    got = kcore_trajectory(sess, df, k, rounds)
    assert got == want


# --------------------------------------------------------------------------
# SemDeDup dominated rule: Spark kernel vs pure-Python mirror on
# arbitrary member tables (ties, zero vectors, negative components)
# --------------------------------------------------------------------------

_SEM_DIMS = 3
_SEM_COMP = st.integers(min_value=-5, max_value=5)
_SEM_MEMBER = st.tuples(
    st.integers(0, 2),  # cluster_id
    st.integers(0, 40),  # cdist (small range forces priority TIES)
    st.lists(_SEM_COMP, min_size=_SEM_DIMS, max_size=_SEM_DIMS),  # x8
)


@SETTINGS
@given(members=st.lists(_SEM_MEMBER, min_size=1, max_size=10))
def test_semantic_decision_matches_python_mirror(sess, members):
    """semantic_decision (the dedup_semantic kernel) must agree with a
    plain-Python formulation of the dominated rule for ANY member table
    — including equal-cdist priority ties (broken by vec_id), zero
    vectors (n8=0 -> never similar, dot>0 guards the sqrt-free test),
    and negative components (dot may be negative)."""
    from spark_stream_kudu_spark.operators.dedup import (
        _SEM_TAU_DEN,
        _SEM_TAU_NUM,
        semantic_decision,
    )

    rows = [
        (v, cid, d, x8, sum(c * c for c in x8))
        for v, (cid, d, x8) in enumerate(members)
    ]
    m = sess.createDataFrame(
        rows,
        "vec_id long, cluster_id long, cdist_q20 long, "
        "x8 array<long>, n8 long",
    ).localCheckpoint(eager=True)

    expected = {}
    for v, cid_v, d_v, x_v, n_v in rows:
        doms = 0
        for u, cid_u, d_u, x_u, n_u in rows:
            if u == v or cid_u != cid_v:
                continue
            if not (d_u > d_v or (d_u == d_v and u < v)):
                continue
            dot = sum(a * b for a, b in zip(x_u, x_v))
            if dot > 0 and (
                _SEM_TAU_DEN**2 * dot * dot >= _SEM_TAU_NUM**2 * n_u * n_v
            ):
                doms += 1
        expected[v] = (cid_v, d_v, doms, 1 if doms else 0)

    got = {
        int(r["vec_id"]): (
            int(r["cluster_id"]),
            int(r["cdist_q20"]),
            int(r["n_dominators"]),
            int(r["pruned"]),
        )
        for r in semantic_decision(sess, m, len(rows)).collect()
    }
    assert got == expected


@SETTINGS
@given(
    members=st.lists(_SEM_MEMBER, min_size=1, max_size=10),
    batch_of=st.lists(st.integers(0, 2), min_size=10, max_size=10),
)
def test_semantic_credit_slicing_independence(sess, members, batch_of):
    """The incremental twin's core claim: summing semantic_batch_credits
    over ANY slicing of the member table into arrival batches must
    reproduce the one-shot semantic_decision dominator counts — for
    arbitrary member tables AND arbitrary batch assignments (not just
    the fixture's vec_id % 4)."""
    from spark_stream_kudu_spark.operators.dedup import semantic_decision
    from spark_stream_kudu_spark.streaming.extensions import (
        semantic_batch_credits,
    )

    schema = (
        "vec_id long, cluster_id long, cdist_q20 long, "
        "x8 array<long>, n8 long"
    )
    rows = [
        (v, cid, d, x8, sum(c * c for c in x8))
        for v, (cid, d, x8) in enumerate(members)
    ]
    m = sess.createDataFrame(rows, schema).localCheckpoint(eager=True)
    oneshot = {
        int(r["vec_id"]): int(r["n_dominators"])
        for r in semantic_decision(sess, m, len(rows)).collect()
    }

    accumulated: dict[int, int] = {}
    prev_rows: list = []
    for b in range(3):
        batch_rows = [r for r in rows if batch_of[r[0]] == b]
        if not batch_rows:
            continue
        new = sess.createDataFrame(batch_rows, schema).localCheckpoint(
            eager=True
        )
        prev = (
            sess.createDataFrame(prev_rows, schema).localCheckpoint(eager=True)
            if prev_rows
            else None
        )
        for r in semantic_batch_credits(sess, new, prev).collect():
            v = int(r["vec_id"])
            accumulated[v] = accumulated.get(v, 0) + int(r["n_dominators"])
        prev_rows.extend(batch_rows)

    expected = {v: n for v, n in oneshot.items() if n > 0}
    assert accumulated == expected


@SETTINGS
@given(
    keys=st.lists(
        st.integers(min_value=0, max_value=10_000_000),
        min_size=1,
        max_size=12,
        unique=True,
    ),
    n_shards=st.integers(min_value=1, max_value=11),
)
def test_hrw_shard_col_matches_python_mirror(sess, keys, n_shards):
    """q191's scan-local rendezvous owner must agree with an INDEPENDENT
    pure-Python HRW (hashlib md5, same key#shard preimage, DESC-hash /
    ASC-shard tie-break) for arbitrary keys and shard counts — the
    cross-engine mirror the fixture-level test (vs the windowed Spark
    assignment) cannot provide."""
    import hashlib

    from spark_stream_kudu_spark.operators.layout import hrw_shard_col

    def py_hrw(key: int) -> int:
        best = None
        for s in range(n_shards):
            h = int(
                hashlib.md5(f"{key}#{s}".encode()).hexdigest()[:8], 16
            )
            # max by (h, -s): highest hash wins, ties to the LOWER shard
            if best is None or (h, -s) > (best[0], -best[1]):
                best = (h, s)
        return best[1]

    df = sess.createDataFrame([(k,) for k in keys], "c_custkey long")
    got = {
        r["c_custkey"]: r["shard"]
        for r in df.select(
            "c_custkey", hrw_shard_col(n_shards).alias("shard")
        ).collect()
    }
    assert got == {k: py_hrw(k) for k in keys}


# --------------------------------------------------------------------------
# Two-phase order statistics kernel (functions/ranks.py) — the rank /
# running sum / NTILE machinery the entity-rollup queries (q110, q135,
# q136, q142, q144, q145, q155) migrated onto in round 8. Properties:
# for ANY value multiset (adversarial tie masses included) the kernel's
# global rank and running sum equal a naive single-partition sort, and
# exact_ntile reproduces Spark's own NTILE under the same total order.
# --------------------------------------------------------------------------

_VALS = st.lists(
    st.integers(min_value=0, max_value=6), min_size=1, max_size=24
)


@SETTINGS
@given(vals=_VALS)
def test_two_phase_rank_cumsum_matches_naive_sort(sess, vals):
    """rank and running sum from the bucketed two-phase kernel equal the
    flat sorted enumeration for any tie structure (desc metric order,
    key tiebreak), including the all-ties worst case."""
    from spark_stream_kudu_spark.functions.ranks import two_phase_order_stats

    rows = [(i, v) for i, v in enumerate(vals)]
    df = sess.createDataFrame(rows, "k long, v long")
    staged = df.select(
        "k",
        "v",
        F.expr("-(v div 2)").alias("b1"),
        (-F.col("v")).alias("negv"),
        F.expr("k div 3").alias("kb"),
    )
    got = {
        r["k"]: (r["rnk"], r["cum"], r["n"], r["tot"])
        for r in two_phase_order_stats(
            staged,
            "b1",
            [F.asc("k")],
            b2=["negv", "kb"],
            value_col="v",
            rank_alias="rnk",
            n_alias="n",
            cumsum_alias="cum",
            total_alias="tot",
        ).collect()
    }
    order = sorted(rows, key=lambda r: (-r[1], r[0]))
    run = 0
    for rank0, (k, v) in enumerate(order):
        run += v
        assert got[k] == (rank0 + 1, run, len(vals), sum(vals)), (k, got[k])


@SETTINGS
@given(vals=_VALS, k=st.integers(min_value=1, max_value=7))
def test_exact_ntile_matches_spark_ntile(sess, vals, k):
    """exact_ntile(rank, n, k) equals F.ntile(k) under the identical
    total order for any n/k, including n < k and remainder cases."""
    from pyspark.sql import Window

    from spark_stream_kudu_spark.functions.ranks import exact_ntile

    rows = [(i, v) for i, v in enumerate(vals)]
    df = sess.createDataFrame(rows, "key long, v long")
    w = Window.orderBy(F.desc("v"), F.asc("key"))
    # Flat single-partition reference on a toy input; the kernel path
    # is exercised against it via the reconstructed (rank, n) pair.
    ref = df.select(
        "key",
        F.ntile(k).over(w).alias("t_ref"),
        F.row_number().over(w).cast("long").alias("rnk"),
        F.count(F.lit(1)).over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).cast("long").alias("n"),
    )
    out = ref.select(
        "key", "t_ref", exact_ntile(F.col("rnk"), F.col("n"), k).alias("t")
    ).collect()
    for r in out:
        assert r["t"] == r["t_ref"], (r["key"], r["t"], r["t_ref"])


@SETTINGS
@given(vals=_VALS)
def test_two_phase_rank_composite_b1_melted(sess, vals):
    """Composite coarse buckets (round-9): melting TWO independent
    orders into (tag, stride) coarse buckets and ranking in ONE kernel
    pass must reproduce each order's flat ranks after subtracting the
    tag's base offset (every tag holds exactly |rows| rows). This is
    the q144 single-shuffle RFM shape."""
    from spark_stream_kudu_spark.functions.ranks import two_phase_order_stats

    rows = [(i, v) for i, v in enumerate(vals)]
    df = sess.createDataFrame(rows, "k long, v long")
    # tag 0: v ASC, k tiebreak; tag 1: v DESC, k tiebreak.
    melted = df.select(
        "k",
        "v",
        F.expr("k div 3").alias("kb"),
        F.expr(
            "stack(2, 0L, v div 2, CAST(v AS BIGINT), "
            "1L, -(v div 2), -v) AS (tag, b1s, fine)"
        ),
    )
    ranked = two_phase_order_stats(
        melted,
        ["tag", "b1s"],
        [F.asc("k")],
        b2=["fine", "kb"],
        rank_alias="rnk",
        n_alias="n",
        pin=False,
    ).collect()
    n = len(vals)
    got_asc = {r["k"]: r["rnk"] for r in ranked if r["tag"] == 0}
    got_desc = {r["k"]: r["rnk"] - n for r in ranked if r["tag"] == 1}
    asc = sorted(rows, key=lambda r: (r[1], r[0]))
    desc = sorted(rows, key=lambda r: (-r[1], r[0]))
    assert got_asc == {k: i + 1 for i, (k, _) in enumerate(asc)}
    assert got_desc == {k: i + 1 for i, (k, _) in enumerate(desc)}
    assert all(r["n"] == 2 * n for r in ranked)


def test_two_phase_rank_null_bucket_raises(sess):
    """The kernel's non-null bucket contract (round-8 advice): a null
    coarse-bucket key must fail LOUDLY at execution, not silently drop
    the row the way the bare inner-join formulation would."""
    import pytest

    from spark_stream_kudu_spark.functions.ranks import two_phase_order_stats

    df = sess.createDataFrame(
        [(0, 1), (1, None), (2, 3)], "k long, v long"
    ).select("k", F.col("v").alias("b1"))
    # The guard sits BEFORE the pin (round-9 advice), so with pin=True
    # the eager materialization raises during kernel CONSTRUCTION —
    # even earlier than the collect the contract promises.
    with pytest.raises(Exception, match="null bucket key"):
        two_phase_order_stats(df, "b1", [F.asc("k")], rank_alias="rnk").collect()


def test_basket_edges_hot_basket_no_self_join(sess):
    """The co-membership edge build must expand pairs basket-locally:
    a 60-item hub basket yields exactly C(60,2) canonical edges, the
    physical plan contains a Generate (array expansion) and NO join on
    the basket key — the shape that serializes |basket|^2 rows through
    one task on a real co-interaction hub."""
    from itertools import combinations

    from spark_stream_kudu_spark.operators.graph import basket_edges

    hub = [(1, p) for p in range(60)]
    small = [(2, 100), (2, 101), (3, 100), (3, 102), (3, 101)]
    df = sess.createDataFrame(hub + small + [(1, 5)], "o long, p long")
    got = {(r["u"], r["v"]) for r in basket_edges(df).collect()}
    want = set()
    for basket in ({p for o, p in hub}, {100, 101}, {100, 101, 102}):
        want |= {tuple(sorted(c)) for c in combinations(basket, 2)}
    assert got == want
    plan = basket_edges(df)._jdf.queryExecution().executedPlan().toString()
    assert "Generate explode" in plan, plan
    for join_node in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        assert join_node not in plan, plan


@SETTINGS
@given(
    memberships=st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 12)),
        min_size=1,
        max_size=40,
    )
)
def test_basket_edges_matches_pairwise_for_any_memberships(
    sess, memberships
):
    """basket_edges equals the canonical pairwise definition — distinct
    {u, v} with u < v co-members of at least one basket — for ANY
    membership multiset (duplicates, singleton baskets, overlapping
    baskets)."""
    from itertools import combinations

    from spark_stream_kudu_spark.operators.graph import basket_edges

    df = sess.createDataFrame(memberships, "o long, p long")
    got = {(r["u"], r["v"]) for r in basket_edges(df).collect()}
    baskets = {}
    for o, p in memberships:
        baskets.setdefault(o, set()).add(p)
    want = set()
    for ps in baskets.values():
        want |= {tuple(sorted(c)) for c in combinations(ps, 2)}
    assert got == want
