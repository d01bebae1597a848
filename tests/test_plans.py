"""Plan-quality tests: assert the physical plans the scale story needs
— pushdown, pruning, broadcast, partial aggregation, JVM-only core —
rather than trusting them (the difference between 'works at sf0.1' and
'works at 100 TB' usually lives in these properties).
"""

from spark_stream_kudu_spark.plans import checks
from spark_stream_kudu_spark.registry import load_all

ALL = load_all()


def test_q01_filter_pushdown_and_pruning(spark, sf_smoke):
    df = ALL["q01_pricing_summary"].builder(spark, sf_smoke)
    assert checks.has_pushed_filter(df, "l_shipdate")
    cols = checks.scan_read_schema(df)
    # only the 7 referenced columns come off disk, not all 11
    assert set(cols) <= {
        "l_returnflag",
        "l_linestatus",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_shipdate",
    }


def test_q06_selective_scan(spark, sf_smoke):
    df = ALL["q06_forecast_revenue"].builder(spark, sf_smoke)
    assert checks.has_pushed_filter(df, "l_shipdate")
    assert checks.has_pushed_filter(df, "l_discount")
    assert checks.has_partial_aggregate(df)


def test_q03_broadcasts_dimension(spark, sf_smoke):
    df = ALL["q03_topk_revenue"].builder(spark, sf_smoke)
    assert checks.uses_broadcast_join(df)


def test_q05_broadcasts_small_tables(spark, sf_smoke):
    df = ALL["q05_regional_revenue"].builder(spark, sf_smoke)
    assert checks.uses_broadcast_join(df)


def test_aggregates_are_partial_final(spark, sf_smoke):
    for name in ["q01_pricing_summary", "q12_group_having", "q30_tumbling_window"]:
        df = ALL[name].builder(spark, sf_smoke)
        assert checks.has_partial_aggregate(df), name


def test_relational_core_never_enters_python(registry_plans):
    """The hot path must stay JVM-side: no Python eval nodes in any
    relational/streaming-semantics/dedup/text plan. Only the explicitly
    vectorized extension kernels may cross the boundary."""
    allowed_python = {
        "sim_topk_pandas",
        "multimodal_decode_ppm",
        "multimodal_frame_sample",
        "multimodal_thumbnail_ppm",
        "multimodal_byte_stats",
        "multimodal_audio_wav",
        "multimodal_video_demux",
        "stream_traffic_pipeline",
        "q138_heavy_hitters_mg",
        "q140_holt_forecast",
        "q157_topk_rank_error",
        "q178_countmin_frequency",
        "emb_norm_stats_pandas",
        "multimodal_byte_histogram",
        # Python UDTF tier (round 10): the table function IS the
        # declared Python crossing — row-local, no shuffle; the
        # gaps-and-islands oracle shows the declarative hot-path form.
        "text_udtf_token_runs",
    }
    for name, (plan, _) in registry_plans.items():
        if name in allowed_python:
            continue
        nodes = checks.python_eval_nodes_from_text(plan)
        assert not nodes, f"{name} crosses into Python: {nodes}"


def test_extension_kernels_are_arrow_vectorized(spark, sf_smoke):
    """When we do cross into Python it must be the Arrow path
    (MapInPandas), never row-at-a-time BatchEvalPython."""
    for name in [
        "sim_topk_pandas",
        "multimodal_decode_ppm",
        "multimodal_frame_sample",
        "multimodal_thumbnail_ppm",
        "multimodal_byte_stats",
        "multimodal_audio_wav",
        "multimodal_video_demux",
        "q138_heavy_hitters_mg",
        "q140_holt_forecast",
        "q157_topk_rank_error",
        "q178_countmin_frequency",
        "emb_norm_stats_pandas",
        "multimodal_byte_histogram",
    ]:
        df = ALL[name].builder(spark, sf_smoke)
        nodes = checks.python_eval_nodes(df)
        assert nodes, f"{name} expected a Python eval node"
        assert all("BatchEvalPython" not in n for n in nodes), nodes


def test_codegen_covers_core_plans(spark, sf_smoke):
    for name in ["q01_pricing_summary", "q03_topk_revenue", "q26_scalar_math"]:
        df = ALL[name].builder(spark, sf_smoke)
        assert checks.whole_stage_codegen_spans(df) >= 1, name


def test_asof_join_never_nested_loop(spark, sf_smoke):
    """The as-of join must be the union+carry-forward shape (shuffle +
    window), never an inequality theta-join that plans as a broadcast
    nested loop — the difference between O(n) and O(n*m) at scale."""
    df = ALL["q38_asof_join"].builder(spark, sf_smoke)
    plan = checks.executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_range_join_is_equi_join(spark, sf_smoke):
    """Bucketized range join must plan as a hash-partitioned equi-join
    (residual time filter attached), not a nested loop."""
    df = ALL["q39_range_join"].builder(spark, sf_smoke)
    plan = checks.executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_correlated_subquery_is_join_free(spark, sf_smoke):
    """Decorrelated form: one window shuffle, zero joins in the plan."""
    df = ALL["q40_correlated_subquery"].builder(spark, sf_smoke)
    plan = checks.executed_plan(df)
    assert "Join" not in plan, "decorrelated query should not plan a join"


def test_stateful_first_seen_uses_arrow(spark, sf_smoke):
    """The batch twin stays JVM-side; the streaming form's Python hop is
    the Arrow-batched FlatMapGroupsInPandasWithState, asserted in
    tests/test_streaming.py via end-to-end behavior."""
    df = ALL["stream_first_seen"].builder(spark, sf_smoke)
    assert not checks.python_eval_nodes(df)


def test_q47_broadcast_with_residual_disjunction(spark, sf_smoke):
    """Q19 shape: the part side broadcasts and the brand/size predicates
    reach the parquet scan (p_brand IS NOT NULL etc. at minimum)."""
    df = ALL["q47_disjunctive_join"].builder(spark, sf_smoke)
    assert checks.uses_broadcast_join(df)
    assert checks.has_partial_aggregate(df)


def test_q52_sessionize_single_shuffle(spark, sf_smoke):
    """Sessionization must reuse ONE user_id partitioning for both window
    passes and the final aggregation — the property that makes it viable
    over a 100 TB event log."""
    from spark_stream_kudu_spark.plans.audit import audit_row

    df = ALL["q52_sessionize"].builder(spark, sf_smoke)
    assert audit_row(df)["exchanges"] == 1


def test_tfidf_df_is_a_window_not_a_join(spark, sf_smoke):
    """Document frequency attaches as a count window inside the term
    exchange (round-11): there is NO df-side aggregate exchange or
    join-back — the plan carries exactly four Exchanges ((doc,term) tf
    aggregate, term df window, the 1-row doc-count aggregate, doc_id
    rank window) and the doc-count scalar joins via a broadcast, never
    a corpus-sized shuffle."""
    from spark_stream_kudu_spark.plans.audit import audit_row

    df = ALL["text_tfidf"].builder(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    row = audit_row(df)
    assert row["exchanges"] == 4, row
    assert row["smj"] == 0, row


def test_q50_scalar_max_broadcasts(spark, sf_smoke):
    df = ALL["q50_top_supplier"].builder(spark, sf_smoke)
    assert checks.uses_broadcast_join(df)


def test_bucketed_join_is_shuffle_free(spark, sf_smoke):
    """Co-bucketed fact tables join with zero Exchange nodes: the
    write-time hash layout replaces every join-time shuffle on the key.
    Broadcast is disabled so the test proves bucket co-location, not a
    small-scale broadcast shortcut."""
    from spark_stream_kudu_spark.operators.layout import bucketed_pair
    from spark_stream_kudu_spark.plans.audit import audit_row

    li, o = bucketed_pair(spark, sf_smoke)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = li.join(o, li.l_orderkey == o.o_orderkey).select(
            "l_orderkey", "o_totalprice"
        )
        row = audit_row(joined)
        assert row["exchanges"] == 0, row
        assert row["smj"] == 1, row
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_partitioned_scan_prunes_partitions(spark, sf_smoke):
    """The date predicate must appear as PartitionFilters on the scan —
    directory-level pruning, not a post-scan filter."""
    df = ALL["q58_partitioned_scan"].builder(spark, sf_smoke)
    plan = checks.formatted_plan(df)
    assert "PartitionFilters: [" in plan
    pf_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any("event_date" in l for l in pf_lines), pf_lines


def test_embedding_rplsh_is_equi_join(spark, sf_smoke):
    """The hyperplane-LSH blocked near-dup must plan as an equi-join on
    the bucket key (residual vec_id filter attached), never a nested
    loop — the whole point of the blocking is that only same-bucket
    pairs are ever compared."""
    df = ALL["dedup_embedding_rplsh"].builder(spark, sf_smoke)
    plan = checks.executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bounded_running_distinct_single_shuffle(spark, sf_smoke):
    """The RANGE-bounded running distinct is one exchange on user_id +
    one sorted window pass — no extra shuffles, no joins."""
    df = ALL["q64b_running_distinct_bounded"].builder(spark, sf_smoke)
    plan = checks.executed_plan(df)
    assert plan.count("Exchange") <= 2  # shuffle + (possible AQE read)
    assert "Join" not in plan


def test_capped_minhash_pairs_no_extra_shuffle(spark, sf_smoke):
    """Adding the bucket cap must not change the shuffle story: the
    small (<=cap) path is the same single groupBy(band,bkey) shuffle;
    the salted path only adds a groupBy over already-shuffled rows."""
    df = ALL["dedup_minhash_pairs"].builder(spark, sf_smoke)
    plan = checks.executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert len(checks.python_eval_nodes(df)) == 0


def test_zorder_layout_skips_files_on_both_dimensions(spark, sf_smoke):
    """The Z-ordered orders layout must cluster BOTH dimensions: the 2-D
    box query's predicate, evaluated against real parquet footer
    min/max stats, must skip at least half the files, and the per-file
    custkey ranges must not all span the full key domain (which is what
    a single-column date sort would produce)."""
    import datetime
    import glob
    import hashlib
    import os
    import tempfile

    import pyarrow.parquet as pq

    from spark_stream_kudu_spark.operators.layout import zordered_orders

    zordered_orders(spark, sf_smoke)
    tag = hashlib.md5(sf_smoke.encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"ssk_zorder_{tag}")
    files = sorted(glob.glob(os.path.join(path, "part-*.parquet")))
    assert len(files) >= 4

    utc = datetime.timezone.utc
    lo_d = datetime.datetime(1997, 1, 1, tzinfo=utc)
    hi_d = datetime.datetime(1998, 1, 1, tzinfo=utc)

    per_file = []
    for f in files:
        md = pq.read_metadata(f)
        stats = {}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                st = col.statistics
                if st is None or not st.has_min_max:
                    continue
                mn, mx = stats.get(col.path_in_schema, (None, None))
                stats[col.path_in_schema] = (
                    st.min if mn is None else min(mn, st.min),
                    st.max if mx is None else max(mx, st.max),
                )
        per_file.append((stats["o_custkey"], stats["o_orderdate"]))

    hits = sum(
        1
        for (cmin, cmax), (dmin, dmax) in per_file
        if not (cmax < 32 or cmin > 95) and not (dmax < lo_d or dmin >= hi_d)
    )
    # The box covers a scale-dependent fraction of the key space (43% of
    # custkeys at sf0.001, 4% at sf0.01), so pin "skips at least two
    # files" at any scale and the tighter half bound at gate scale+.
    assert hits <= len(files) - 2, f"box query hits {hits}/{len(files)} files"
    if sf_smoke.rstrip("/").endswith(("sf0.01", "sf0.1")):
        assert hits <= len(files) // 2, f"box query hits {hits}/{len(files)} files"

    domain_min = min(c[0] for c, _ in per_file)
    domain_max = max(c[1] for c, _ in per_file)
    full_span = sum(
        1 for (cmin, cmax), _ in per_file if cmin == domain_min and cmax == domain_max
    )
    assert full_span < len(per_file), "custkey never splits: date-only sort"


def test_bloom_join_broadcasts_membership_set(spark, sf_smoke):
    """The runtime-filter pattern only pays off if the bucket set is
    broadcast (no shuffle to pre-filter the fact scan) and aggregation
    is map-side combined."""
    df = ALL["q81_bloom_join"].builder(spark, sf_smoke)
    assert checks.uses_broadcast_join(df)
    assert checks.has_partial_aggregate(df)


def test_market_share_broadcasts_dims_single_pass(spark, sf_smoke):
    """Customer and nation broadcast; share computed in one aggregation
    pass (conditional numerator), so exactly one aggregate shuffle and
    no self-join of the fact table."""
    df = ALL["q82_market_share"].builder(spark, sf_smoke)
    plan = checks.executed_plan(df)
    assert checks.uses_broadcast_join(df)
    assert checks.has_partial_aggregate(df)
    # 4 scan NODES, one per table (executed_plan prints each node in
    # both the tree and the details section, hence <= 8 occurrences)
    assert plan.count("Scan parquet") <= 8


def test_pit_join_is_no_theta_join(spark, sf_smoke):
    """The point-in-time join must run as the as-of union + window
    carry-forward: NO join operator at all (the oracle's interval
    theta-join would be a per-key nested loop), and at most two
    exchanges on user_id (one deriving the SCD2 intervals, one for the
    post-union carry-forward window; each node prints twice in the
    executed plan)."""
    df = ALL["q79_pit_join"].builder(spark, sf_smoke)
    plan = checks.executed_plan(df)
    assert "Join" not in plan
    assert plan.count("Exchange") <= 4


def test_profile_is_single_scan(spark, sf_smoke):
    """The column profiler computes every per-column aggregate from ONE
    scan of the table (the oracle's UNION ALL form re-scans per column;
    the engine must not)."""
    df = ALL["q77_profile"].builder(spark, sf_smoke)
    plan = checks.executed_plan(df)
    # one scan NODE (printed twice: tree + details)
    assert plan.count("Scan parquet") <= 2


def test_dim_stats_partial_aggregates(spark, sf_smoke):
    """The posexplode stream must collapse map-side before the shuffle
    (64 rows per partition), or the exploded 64x row stream shuffles."""
    df = ALL["emb_dim_stats"].builder(spark, sf_smoke)
    assert checks.has_partial_aggregate(df)


def test_ivf_partitioned_scan_prunes_clusters(spark, sf_smoke):
    """The cluster predicate must appear as PartitionFilters on the
    IVF-partitioned embedding layout — the ANN probe reads ONE cluster
    directory at planning time, not a post-scan filter."""
    df = ALL["q96_ivf_partitioned_scan"].builder(spark, sf_smoke)
    plan = checks.formatted_plan(df)
    assert "PartitionFilters: [" in plan
    pf_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any("cluster" in l for l in pf_lines), pf_lines


def test_dpp_join_prunes_partitions_at_runtime(spark, sf_smoke):
    """The dim-side filter must reach the fact scan as a
    dynamicpruningexpression in PartitionFilters — runtime directory
    pruning driven by the broadcast build side, not a post-scan filter."""
    df = ALL["q118_dpp_join"].builder(spark, sf_smoke)
    plan = checks.formatted_plan(df)
    pf_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any("dynamicpruning" in l for l in pf_lines), pf_lines


def test_orc_scan_pushes_filters(spark, sf_smoke):
    """The ORC source surface keeps predicate pushdown like parquet."""
    df = ALL["q167_orc_roundtrip"].builder(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(o_orderstatus)" in plan or (
        "o_orderstatus" in plan and "PushedFilters" in plan
    ), plan


def test_federated_union_pushes_per_arm_filters(spark, sf_smoke):
    """Each federation arm keeps its own status filter at its scan —
    the union must not lift filtering above the format boundary."""
    df = ALL["q172_federated_union"].builder(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # parquet arm pushes to the scan; csv/json arms filter post-scan but
    # BEFORE the union/aggregate (three separate filter sites).
    assert plan.count("o_orderstatus") >= 3, plan


def test_global_rowid_fact_window_is_partitioned(spark, sf_smoke):
    """The fact-side row_number window must partition by the day bucket
    (parallel across days); only the tiny per-day offsets window may run
    SinglePartition. A regression to a global unpartitioned row_number
    would funnel the whole table through one task."""
    df = ALL["q181_global_rowid"].builder(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # exactly one SinglePartition exchange: the |days|-row offsets side
    assert plan.count("SinglePartition") == 1, plan
    # the fact window's spec partitions by bucket
    assert "windowspecdefinition(bucket" in plan, plan


def test_equidepth_fact_window_is_partitioned(spark, sf_smoke):
    """q184's fact-side rank window must partition by the value stride;
    only the tiny stride-offsets window may run SinglePartition."""
    df = ALL["q184_equidepth_bins"].builder(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("SinglePartition") == 1, plan
    assert "windowspecdefinition(stride" in plan, plan


def test_seasonal_single_partition_windows_are_rollup_only(spark, sf_smoke):
    """q183's fact subtree (scan + daily rollup + the |days|-row
    SinglePartition moving-average window) runs exactly ONCE: the
    detrended rollup is eagerly checkpointed before its two consumers
    (ReuseExchange does not dedupe them — without the cut the event
    fact was scanned twice, measured). The RESULT plan must therefore
    contain NO parquet scan and NO SinglePartition exchange: only the
    checkpointed |days| rows flow through the seasonal join."""
    df = ALL["q183_seasonal_decompose"].builder(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 0, plan
    assert plan.count("SinglePartition") == 0, plan


def test_compaction_rewrite_reads_only_flagged_partitions(spark, sf_smoke):
    """q189's per-bin rewrite scan must prune to exactly its group's
    hive partitions: PartitionFilters carries the bin's event_date
    IN-list, and the executed scan opens one file per flagged partition
    — never the rest of the table (the property that makes OPTIMIZE an
    incremental maintenance job instead of a full rewrite)."""
    from pyspark.sql import functions as F

    from spark_stream_kudu_spark.operators.layout import (
        compaction_bin_scan,
        compaction_groups,
    )

    groups = compaction_groups(spark, sf_smoke)
    assert len(groups) > 1
    _, dates = groups[0]
    df = compaction_bin_scan(spark, sf_smoke, dates)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [event_date" in plan, plan
    n_files = (
        df.withColumn("f", F.input_file_name()).select("f").distinct().count()
    )
    assert n_files == len(dates), (n_files, len(dates))


def test_encoding_advisor_has_no_single_partition_exchange(spark, sf_smoke):
    """q182 counts runs two-phase: the fact window partitions by
    (col, bucket) and the boundary stitch partitions by col over the
    per-bucket rollup — NO SinglePartition exchange anywhere in the
    plan (the whole point of the bucketed formulation vs the oracle's
    flat global window per column)."""
    df = ALL["q182_encoding_advisor"].builder(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("SinglePartition") == 0, plan
    assert "windowspecdefinition(col" in plan, plan


def test_semantic_dedup_pairs_are_cluster_blocked(spark, sf_smoke):
    """SemDeDup's only pair space must be the cid-keyed equi self-join
    (cluster blocking IS the scale story) — never a nested loop or a
    cartesian — with zero Python nodes: quantization, assignment and
    the dominated-rule dot products are all codegen'd expressions."""
    df = ALL["dedup_semantic"].builder(spark, sf_smoke)
    plan = checks.executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert len(checks.python_eval_nodes(df)) == 0


def test_reshard_merge_on_read_is_broadcast_masked(spark, sf_smoke):
    """q191's merge-on-read view must apply the deletion vectors as a
    size-gated BROADCAST anti-join (the tombstone side is key-only
    metadata, ~1/9 of the keys) — never a sort-merge join — with zero
    Python nodes; and the incremental layout must be genuinely
    incremental: every moved row lands in the ADDED shard (under
    rendezvous expansion a key moves only if the new shard wins its
    tournament), so `newdata/` holds exactly one shard and the old
    shards' data files are never rewritten."""
    import os

    from spark_stream_kudu_spark.operators.layout import (
        _RS_NEW,
        resharded_customer,
        resharding_overlay,
    )

    view = resharded_customer(spark, sf_smoke)
    plan = checks.executed_plan(view)
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert len(checks.python_eval_nodes(view)) == 0
    new_shards = [
        r["shard"]
        for r in spark.read.parquet(
            os.path.join(resharding_overlay(spark, sf_smoke), "newdata")
        )
        .select("shard")
        .distinct()
        .collect()
    ]
    assert new_shards == [_RS_NEW - 1], new_shards


def test_hrw_scan_local_matches_windowed_assignment(spark, sf_smoke):
    """q191's scan-local greatest-of-structs rendezvous owner must agree
    with q173's windowed argmax (`_hrw_assign`) key-for-key at both
    shard counts — same hash, same DESC-hash/ASC-shard tie-break, zero
    shuffle instead of a per-key window."""
    from pyspark.sql import functions as F

    from spark_stream_kudu_spark.operators.layout import (
        _RS_NEW,
        _RS_OLD,
        _hrw_assign,
        hrw_shard_col,
    )
    from spark_stream_kudu_spark.sources.tables import load_table

    c = load_table(spark, sf_smoke, "customer")
    for n in (_RS_OLD, _RS_NEW):
        scan_local = c.select(
            F.col("c_custkey").alias("key"),
            hrw_shard_col(n).alias("a"),
        )
        diff = (
            scan_local.join(_hrw_assign(c, n, "b"), "key")
            .filter(F.col("a") != F.col("b"))
            .count()
        )
        assert diff == 0, f"n_shards={n}: {diff} keys disagree"
