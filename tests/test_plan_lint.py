"""Registry-wide single-partition plan lint (round-7 verdict item 2).

The one systematic scale-killer class the round-7 audit found was a
Sort/Window planned directly over an ``Exchange SinglePartition`` whose
input scales with the corpus — correct and fast at sf0.1, serializing
billions of rows through one task at 100 TB. The eight offenders (plus
q87 and q145, which this sweep itself surfaced) were migrated onto the
two-phase kernels; this lint locks the class out for every CURRENT and
FUTURE registration: any query not on the documented allow-list must
plan ZERO single-partition order operators, and allow-listed queries
may not grow new ones.

The allow-list entries are all bounded-by-construction inputs — domain
rollups (|nations|, |months|, |types|, |days|, |domains|, |sources|),
two-phase kernel offset tables (|strides| rows), capped survivor sets
(shard-superset top-k), or scan metadata (|partitions|) — documented in
SCALE.md "Single-partition allow-list". Scalar aggregates are not
flagged at all: their SinglePartition exchange merges per-partition
partials, the correct plan (see checks.single_partition_order_ops).
"""

from spark_stream_kudu_spark.plans import checks
from spark_stream_kudu_spark.registry import load_all

ALL = load_all()

# name -> (max allowed single-partition order-op sites, bounded input)
ALLOWED: dict[str, tuple[int, str]] = {
    "q62_percent_of_total": (1, "|nations| rollup share window"),
    "q87_skyline": (1, "|days| prefix-max rollup"),
    "q91_growth": (1, "|months| rollup lag window"),
    "q104_hierarchy_share": (1, "|nations| rollup share windows"),
    "q110_gains_table": (2, "kernel offsets (|strides|) + 5-bucket cum"),
    "q121_lateness_audit": (1, "|coarse buckets| prefix-max window"),
    "q126_chisq_drift": (1, "|types| count grid"),
    "q135_pareto_curve": (1, "kernel offsets (|strides|)"),
    "q136_gini": (1, "kernel offsets (|strides|)"),
    "q142_mutual_information": (2, "kernel offsets + |cells| grid"),
    "q144_rfm_segmentation": (1, "one melted kernel offset table"),
    "q145_zipf_fit": (1, "kernel offsets (|strides|)"),
    "q155_abc_xyz": (1, "kernel offsets (|strides|)"),
    "q177_compaction_plan": (1, "|partitions| scan-metadata rollup"),
    "q181_global_rowid": (1, "|days| offset table"),
    "q184_equidepth_bins": (1, "|strides| offset table"),
    "sample_domain_mix": (1, "|domains| rate table"),
    "sample_quota_allocation": (1, "|sources| Hamilton rank"),
    "stream_chisq_drift_e2e": (1, "|types| additive store"),
    "text_vocab": (1, "<= shards x top-k survivor re-rank"),
}


def test_registry_plan_lint(registry_plans):
    """ONE build pass over every registered query, two lints on the
    rendered prepared plan:

    1. single-partition order ops bounded by the allow-list (above);
    2. ZERO CartesianProduct nodes anywhere — every cross join in the
       engine must broadcast a bounded side (BroadcastNestedLoopJoin
       over a 1-row/codebook-sized relation is the blessed pattern;
       an unbroadcast cartesian is |A|x|B| shuffled work at 100 TB).
    """
    failures = []
    for name, (_, plan) in sorted(registry_plans.items()):
        hits = checks.single_partition_order_ops_from_text(plan)
        allowed = ALLOWED.get(name, (0, ""))[0]
        if len(hits) > allowed:
            failures.append(f"{name}: {len(hits)} > {allowed} ({hits})")
        n_cart = plan.count("CartesianProduct")
        if n_cart:
            failures.append(f"{name}: {n_cart} CartesianProduct node(s)")
    assert not failures, "\n".join(failures)


def test_parser_canary(spark, sf_smoke):
    """Positive control for the plan-text parser: a known allow-listed
    query (q62's |nations| share window) must still yield exactly one
    single-partition hit. If a renderer change makes the indent-based
    depth recovery silently miss parents, THIS fails — the lint cannot
    weaken without a test going red."""
    df = ALL["q62_percent_of_total"].builder(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    hits = checks.single_partition_order_ops_from_text(plan)
    assert len(hits) == 1, f"parser canary drifted: {hits}"


def test_allow_list_entries_still_exist_and_are_used():
    """A renamed or deleted query must not leave a stale allow-list
    entry silently widening the lint."""
    stale = [n for n in ALLOWED if n not in ALL]
    assert not stale, f"allow-list names not registered: {stale}"
