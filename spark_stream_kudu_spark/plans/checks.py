"""Physical-plan quality checks.

The engine's scale story rests on Catalyst doing specific things to
specific queries — filters reaching the parquet scan, small dimensions
broadcast, aggregates running partial+final, the relational core never
crossing into Python. These helpers read ``explain``/plan strings so
tests can assert those properties instead of hoping for them
(SURVEY.md §4: everything delegated to Catalyst — so verify the
delegation actually happens).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def executed_plan(df: DataFrame) -> str:
    """The physical plan string (pre-execution; AQE may re-plan at
    runtime, but join *strategy* regressions — nested loop where an
    equi-join belongs — already show here)."""
    return formatted_plan(df)


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    """True if the parquet scan carries a pushed filter mentioning
    ``fragment`` (column name, typically)."""
    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "PushedFilters" in line and fragment in line and "[]" not in line.split("PushedFilters")[1][:4]:
            return True
    return False


def scan_read_schema(df: DataFrame) -> list[str]:
    """Column names in the (first) parquet scan's ReadSchema — what
    actually gets read off disk after pruning."""
    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "ReadSchema" in line:
            schema = line.split("ReadSchema:")[1].strip()
            inner = schema[schema.find("<") + 1 : schema.rfind(">")]
            return [f.split(":")[0] for f in inner.split(",") if ":" in f]
    return []


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def has_partial_aggregate(df: DataFrame) -> bool:
    """Hash aggregation planned as partial + final (map-side combine)."""
    plan = formatted_plan(df)
    return plan.count("HashAggregate") >= 2 or "partial_" in plan


def python_eval_nodes(df: DataFrame) -> list[str]:
    """Plan nodes that cross into Python workers (should be empty for
    the relational core; only extension UDF paths may contain them)."""
    return python_eval_nodes_from_text(formatted_plan(df))


def python_eval_nodes_from_text(plan: str) -> list[str]:
    """``python_eval_nodes`` over an already-rendered formatted plan."""
    return [
        line.strip()
        for line in plan.splitlines()
        if any(n in line for n in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"))
    ]


def whole_stage_codegen_spans(df: DataFrame) -> int:
    """Number of whole-stage-codegen subtrees Spark generates for the
    plan (the 'codegen' explain mode actually runs codegen; AQE's
    formatted plan doesn't mark spans before execution)."""
    s = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "codegen"
    )
    return s.count("WholeStageCodegen subtree")


def single_partition_order_ops(df: DataFrame) -> list[str]:
    return single_partition_order_ops_from_text(
        df._jdf.queryExecution().executedPlan().toString()
    )


def _parse_plan_tree(text: str) -> list[tuple[int, str]]:
    """(depth, body) per node of a rendered executedPlan tree,
    recovering structure from the 3-char-per-level indentation. Shared
    by the funnel sweep and the broadcast-subtree extractor; carries
    the renderer-drift canary (root must parse at depth 0) so a Spark
    upgrade fails loudly instead of silently blinding the lints."""
    import re

    nodes: list[tuple[int, str]] = []
    for line in text.splitlines():
        m = re.match(r"^([ :+\-|]*)(.*)$", line)
        indent, body = m.group(1), m.group(2)
        if not body:
            continue
        body = re.sub(r"^\*\(\d+\) ", "", body)  # codegen stage tag
        nodes.append((len(indent) // 3, body))
    if nodes and nodes[0][0] != 0:
        raise AssertionError(
            "plan-text parser: root node did not parse at depth 0 — "
            "renderer layout changed; re-derive the indent rule "
            f"(got depth {nodes[0][0]}: {nodes[0][1]!r})"
        )
    return nodes


def broadcast_build_subtrees_from_text(text: str) -> list[list[str]]:
    """The node bodies under each BroadcastExchange in a rendered
    executedPlan tree — i.e. what each broadcast actually ships. Lets
    tests assert that no ENTITY-SCALE relation (a parquet scan of an
    entity table, a corpus-scaling rollup) sits on a broadcast build
    side, which is sharper than counting join nodes: a bounded 1-row
    total may legitimately broadcast in the same plan."""
    nodes = _parse_plan_tree(text)
    subtrees: list[list[str]] = []
    for i, (depth, body) in enumerate(nodes):
        if not body.startswith("BroadcastExchange"):
            continue
        sub: list[str] = []
        for d2, b2 in nodes[i + 1 :]:
            if d2 <= depth:
                break
            sub.append(b2)
        subtrees.append(sub)
    return subtrees


def single_partition_order_ops_from_text(text: str) -> list[str]:
    """Order-sensitive operators (Sort / Window / WindowGroupLimit)
    whose DIRECT child is a SinglePartition shuffle — the one plan
    shape that serializes its whole input through one task. Returns one
    descriptor per site.

    Scalar aggregates are deliberately NOT flagged: their
    SinglePartition exchange merges per-partition PARTIAL rows (bounded
    by the partition count), which is the correct plan. Only an
    order-by funnel — where every input ROW crosses one task — is the
    scale killer the round-7 audit graded weak, so the sweep keys on
    Sort/Window parents specifically.

    Parses the prepared plan's rendered tree (exchanges only exist
    post-EnsureRequirements; sparkPlan() has none), recovering
    parent-child structure from the 3-char-per-level indentation.
    """
    import re

    # Renderer-drift canary lives in _parse_plan_tree; the positive
    # counterpart — a known allow-listed query must still produce a
    # hit — lives in tests/test_plan_lint.py::test_parser_canary.
    nodes = _parse_plan_tree(text)
    hits: list[str] = []
    for i, (depth, body) in enumerate(nodes):
        if not body.startswith("Exchange SinglePartition"):
            continue
        for pdepth, pbody in reversed(nodes[:i]):
            if pdepth == depth - 1:
                if re.match(r"(Sort|Window|WindowGroupLimit)\b", pbody):
                    hits.append(
                        f"{pbody.split(' ')[0]}<-Exchange SinglePartition"
                    )
                break
    return hits
