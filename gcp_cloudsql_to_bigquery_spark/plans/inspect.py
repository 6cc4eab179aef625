"""Physical-plan inspection helpers: assert the plan you meant to get.

SURVEY.md §4: Catalyst provides pushdown/pruning/broadcast for free *if* the
query is declared well — these helpers make plan shape a testable property
(scan pushdown reached parquet, small sides went broadcast, codegen spans
cover the hot path), so a regression to a shuffle-heavy plan fails CI
instead of surfacing as a 100 TB incident.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def count_occurrences(df: DataFrame, token: str) -> int:
    return physical_plan(df).count(token)


def has_pushed_filters(df: DataFrame) -> bool:
    """True if any datasource scan carries pushed filters."""
    plan = formatted_plan(df)
    for line in plan.splitlines():
        s = line.strip()
        if s.startswith("PushedFilters:") and not s.endswith("[]"):
            return True
    return False


def read_schema_columns(df: DataFrame) -> list[list[str]]:
    """Column lists actually read by each file scan (pruning check)."""
    import re

    plan = formatted_plan(df)
    out = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = [c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()]
        out.append(cols)
    return out


def broadcast_join_count(df: DataFrame) -> int:
    return count_occurrences(df, "BroadcastHashJoin")


def sort_merge_join_count(df: DataFrame) -> int:
    return count_occurrences(df, "SortMergeJoin")


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle exchanges (each is a full materialization barrier)."""
    plan = physical_plan(df)
    return plan.count("Exchange hashpartitioning") + plan.count("Exchange rangepartitioning")


def broadcast_hint_count(df: DataFrame) -> int:
    """Count of hint-FORCED broadcasts in the logical plan.

    Distinct from ``broadcast_join_count``: the optimizer is free to pick a
    broadcast join when a side measures small (that is size-gated and safe);
    a ResolvedHint forces it regardless of size — the thing that OOMs at
    100 TB when the hinted side grows with the data.
    """
    return df._jdf.queryExecution().analyzed().toString().count("ResolvedHint")


def exchange_inputs(df: DataFrame) -> list[tuple[str, list[str]]]:
    """(arguments, input_columns) for every Exchange node in the formatted
    plan — lets tests assert WHAT an exchange carries, not just that it
    exists (e.g. 'the bucket-key shuffle must not carry the vector column')."""
    import re

    plan = formatted_plan(df)
    sections = re.split(r"\n\(\d+\) ", plan)
    out: list[tuple[str, list[str]]] = []
    for sec in sections:
        header = sec.splitlines()[0] if sec else ""
        if "Exchange" not in header:
            continue
        inp = re.search(r"Input \[\d+\]: \[([^\]]*)\]", sec)
        args = re.search(r"Arguments: (.*)", sec)
        cols = [c.strip() for c in inp.group(1).split(",")] if inp else []
        out.append((args.group(1) if args else "", cols))
    return out


def _unwrap_adaptive(node):
    if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        return node.initialPlan()
    return node


def _children(node) -> list:
    """A node's children, looking through AdaptiveSparkPlanExec wrappers
    and into the cached plan behind an ``InMemoryTableScanExec`` (a
    ``persist()`` fence): the fenced subtree runs as part of the query,
    so the walk audits it in place."""
    if node.getClass().getSimpleName() == "InMemoryTableScanExec":
        return [_unwrap_adaptive(node.relation().cachedPlan())]
    ch = node.children()
    return [_unwrap_adaptive(ch.apply(i)) for i in range(ch.size())]


def _is_checkpoint_scan(node) -> bool:
    """An ``RDDScanExec`` over a checkpointed RDD — a ``localCheckpoint``
    fence, whose lineage the plan no longer shows."""
    return node.getClass().getSimpleName() == "RDDScanExec" and node.rdd().isCheckpointed()


def _plan_nodes(df: DataFrame):
    """Every node of the executed physical plan, pre-order, through
    AdaptiveSparkPlanExec wrappers and cached plans — the one walk the
    invariant detectors below share."""
    todo = [_unwrap_adaptive(df._jdf.queryExecution().executedPlan())]
    while todo:
        node = todo.pop()
        yield node
        todo.extend(reversed(_children(node)))


def _reaches_scan_without_agg(node) -> bool:
    """True if this subtree reaches a datasource scan with no intervening
    aggregation / limit / group-limit — i.e. its row count is fact-grain,
    not bounded by a reduction.  Shared by the three scale invariants
    (unpartitioned window, fact cartesian, single-partition barrier):
    LocalTableScan/RDDScan literals are driver-local and bounded;
    FileSourceScan/BatchScan/RowDataSourceScan are the unbounded bases,
    and so is a checkpointed RDD scan, whose size the plan cannot show.
    An InMemoryTableScan is neither: the walk enters its cached plan."""
    cls = node.getClass().getSimpleName()
    if (
        "Aggregate" in cls
        or "Limit" in cls
        or "TakeOrdered" in cls
        or cls == "WindowGroupLimitExec"
    ):
        return False
    if cls in ("LocalTableScanExec", "RDDScanExec"):
        # createDataFrame literals (LocalTableScan, or ExistingRDD when the
        # conversion takes the RDD path) are driver-local and bounded; a
        # checkpointed RDD is opaque
        return _is_checkpoint_scan(node)
    if "Scan" in cls and cls != "InMemoryTableScanExec":
        # FileSourceScanExec / BatchScanExec / RowDataSourceScanExec
        return True
    return any(_reaches_scan_without_agg(c) for c in _children(node))


def unpartitioned_fact_window_count(df: DataFrame) -> int:
    """WindowExec nodes with an EMPTY partition spec fed by a datasource
    scan with no intervening aggregation/limit — i.e. a global sort over
    FACT-GRAIN data, which executes as a single task no matter the cluster
    size (Spark logs 'No Partition Defined for Window').  Unpartitioned
    windows over already-aggregated or limited (bounded) inputs are the
    legitimate bounded-rollup case and are NOT counted.  Keeping this at
    zero is the no-one-task-sort invariant from VERDICT r5 item 3."""
    return sum(
        1
        for node in _plan_nodes(df)
        if node.getClass().getSimpleName() in ("WindowExec", "WindowInPandasExec")
        and node.partitionSpec().size() == 0
        and any(_reaches_scan_without_agg(c) for c in _children(node))
    )


def fact_cartesian_count(df: DataFrame) -> int:
    """CartesianProductExec / BroadcastNestedLoopJoinExec nodes where BOTH
    sides reach a datasource scan with no intervening aggregation/limit —
    i.e. a genuinely quadratic fact-by-fact product.  Scalar binds (a
    broadcast 1-row aggregate or a bounded plan table crossed onto a fact)
    have an aggregate/LocalRelation on one side and are NOT counted.
    Keeping this at zero registry-wide pins the claim that every crossJoin
    in the engine is a bounded broadcast bind."""
    bad = 0
    for node in _plan_nodes(df):
        if node.getClass().getSimpleName() in (
            "CartesianProductExec",
            "BroadcastNestedLoopJoinExec",
        ):
            ch = _children(node)
            if len(ch) == 2 and all(_reaches_scan_without_agg(c) for c in ch):
                bad += 1
    return bad


def unbounded_single_partition_exchanges(df: DataFrame) -> list[str]:
    """``Exchange SinglePartition`` nodes whose input reaches a datasource
    scan with no intervening aggregation / limit / group-limit — i.e. an
    ALL-DATA one-task barrier (the sibling class of the unpartitioned
    window: every row funnels through a single reducer no matter the
    cluster size).  Bounded feeds are NOT counted: a global-aggregate
    final stage receives one partial row per map task, a GlobalLimit
    receives <= k rows per task from its LocalLimit, a WindowGroupLimit
    bounds each group map-side.  Returns one describing string per
    offending exchange (its immediate child node class) so audits can
    report WHERE the barrier sits; len() == the invariant count.

    Registry-wide scan methodology from round 15 (WindowGroupLimit scan,
    VERDICT r15 item 3)."""
    return [
        child.getClass().getSimpleName()
        for node in _plan_nodes(df)
        if node.getClass().getSimpleName() == "ShuffleExchangeExec"
        and "SinglePartition" in str(node.outputPartitioning())
        for child in _children(node)
        if _reaches_scan_without_agg(child)
    ]


#: aggregate functions whose buffer COLLECTS values (size ~ input, or
#: ~ distinct values) rather than a fixed-size state — the unbounded-
#: global-buffer invariant's target set.  Sketches (approx_percentile,
#: hll, count-min, kmv) keep fixed-size state and are the designed scale
#: path; they are deliberately absent.
_BUFFER_AGG_FNS = (
    "percentile(",
    "percentile_disc(",
    "median(",
    "mode(",
    "collect_list(",
    "collect_set(",
    "listagg(",
    "array_agg(",
)


def unbounded_global_buffer_aggregates(df: DataFrame) -> list[str]:
    """GLOBAL (ungrouped) aggregate nodes whose functions buffer values
    (exact percentiles, collect_*, listagg, mode) over fact-grain input.

    The single-partition invariant walks past these — a global agg's
    exchange carries one ROW per map task — but for value-collecting
    functions that one row holds the task's entire column slice, and the
    lone final reducer merges ~the whole column in memory: an OOM at
    100 TB, not a slow query.  Grouped variants distribute by key and
    are fine; bounded inputs (dims, post-limit, post-aggregate) are
    fine.  Only the PARTIAL (scan-adjacent) half of a two-phase global
    agg can trip this — the final half sees its partial child as a
    bound — so each offending aggregate is flagged exactly once.
    Returns the matched function names, one entry per offending node.

    Round-16 registry scan (now ``scripts/plan_audit.py`` invariant 5,
    whose VIOLATION lines list these names) findings: 4 hits — two
    rewritten onto scale.global_order_stats (the bookmark high-water
    mark, the range-layout boundaries), two allowlisted at the time.
    Round 17 rewrote the remaining two as well (agg_quantile_sketch's
    exact certification percentiles onto scale.global_order_stats;
    profile_table's median onto a bounded-domain value histogram), so
    the registry-wide count is now ZERO and the plan_audit allowlist
    carries no buffer_agg entries."""
    out: list[str] = []
    for node in _plan_nodes(df):
        if node.getClass().getSimpleName() not in (
            "HashAggregateExec",
            "ObjectHashAggregateExec",
            "SortAggregateExec",
        ):
            continue
        try:
            n_keys = node.groupingExpressions().size()
            fns = node.aggregateExpressions().toString()
        except Exception:
            n_keys, fns = -1, ""
        if (
            n_keys == 0
            and any(f in fns for f in _BUFFER_AGG_FNS)
            and any(_reaches_scan_without_agg(c) for c in _children(node))
        ):
            out.append("+".join(f.rstrip("(") for f in _BUFFER_AGG_FNS if f in fns))
    return out


def batch_eval_python_count(df: DataFrame) -> int:
    """Row-at-a-time Python eval nodes (``BatchEvalPython`` /
    ``BatchEvalPythonUDTF``): every row crosses the JVM/Python boundary
    through pickle individually, ~10-100x slower than the Arrow-batched
    paths (``ArrowEvalPython``, ``MapInArrow``, pandas_udf family — none
    of which match this substring).  Zero registry-wide since r16
    (Python UDTFs ride ``spark.sql.execution.pythonUDTF.arrow.enabled``,
    session.py)."""
    return count_occurrences(df, "BatchEvalPython")


_PYTHON_MAP_NODES = ("MapInPandasExec", "MapInArrowExec", "PythonMapInArrowExec")


def stacked_python_map_count(df: DataFrame) -> int:
    """Python map nodes (``mapInPandas`` / ``mapInArrow``) whose child is
    another Python map node: two Arrow crossings in a row, each with its
    own worker round trip and serialize/deserialize of the intermediate
    batch.  Row-local kernel chains belong in ONE crossing
    (``multimodal.media_kernel`` runs its steps inside one worker), so
    the registry-wide count is zero."""
    return sum(
        1
        for node in _plan_nodes(df)
        if node.getClass().getSimpleName() in _PYTHON_MAP_NODES
        for child in _children(node)
        if child.getClass().getSimpleName() in _PYTHON_MAP_NODES
    )


def opaque_fence_count(df: DataFrame) -> int:
    """Checkpointed RDD scans (eager ``localCheckpoint`` fences) in the
    plan: subtrees the walk cannot enter, which the boundedness checks
    treat as unbounded.  Unlike a lazy ``persist()`` fence they also run
    their jobs when the DataFrame is built."""
    return sum(1 for node in _plan_nodes(df) if _is_checkpoint_scan(node))


def final_plan_tree(df: DataFrame) -> str:
    """The node-tree text of the plan that actually runs.

    Before execution this is simply the formatted tree.  AFTER execution
    under AQE (``isFinalPlan=true``) both ``executedPlan().toString()``
    and the formatted output repeat every node in an ``== Initial Plan
    ==`` section — substring-counting helpers like ``exchange_count`` /
    ``broadcast_join_count`` would roughly double-count there (today's
    tests only inspect unexecuted plans, where no such section exists).
    Use this to scope node counting on executed plans."""
    import re

    plan = formatted_plan(df)
    m = re.search(r"== Final Plan ==(.*?)== Initial Plan ==", plan, re.S)
    return m.group(1) if m else plan.split("\n\n", 1)[0]
