"""Dump the formatted physical plans of the benchmark's query operations
(``perfbench/workloads.py``: ``SQL_BATCH + PY_KERNELS``) to PLANS.md — a
reviewable snapshot of the plan shapes the perf numbers rest on (pushed
filters, exchange count, broadcast joins, whole-stage codegen spans),
regenerated after operator changes so plan regressions are visible in the
diff, not just in wall-clocks.  The session is the benchmark's:
``local[nproc]`` with ``session.get_spark`` defaults.

Usage:  python scripts/dump_plans.py [--sf /root/testdata/sf0.01]
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the benchmark's query list is the single source of truth, so the snapshot
# cannot drift from what perfbench times
from perfbench.workloads import PY_KERNELS, SQL_BATCH  # noqa: E402

MAX_PLAN_LINES = 80  # keep the artifact reviewable; long tails truncated


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="PLANS.md")
    args = ap.parse_args()

    from gcp_cloudsql_to_bigquery_spark.plans import inspect
    from gcp_cloudsql_to_bigquery_spark.session import get_spark
    from gcp_cloudsql_to_bigquery_spark.workload import queries

    nproc = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc))  # as perfbench/run.py
    spark = get_spark(app_name="dump_plans", master=f"local[{nproc}]")
    shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    qs = queries()
    sections = []
    for name in SQL_BATCH + PY_KERNELS:
        df = qs[name](spark, args.sf)
        df.collect()  # finalize the AQE plan (isFinalPlan=true) so the
        # dumped shape and codegen spans are the ones that actually ran
        plan = inspect.formatted_plan(df)
        lines = plan.splitlines()
        shown = lines[:MAX_PLAN_LINES]
        truncated = len(lines) - len(shown)
        # counts come from the FINAL-plan tree only (inspect.final_plan_tree):
        # both the raw executedPlan string and the formatted output repeat
        # every node in AQE's '== Initial Plan ==' section and would
        # double-count
        tree = inspect.final_plan_tree(df)
        tree_ids = set(re.findall(r"\((\d+)\)", tree))

        def n_nodes(op: str) -> int:
            # tree headers may carry modifiers: 'BroadcastHashJoin Inner
            # BuildRight (18)', 'Exchange (21)'
            return len(re.findall(rf"\b{op}\b[^\n]*?\(\d+\)", tree))

        # shuffle count with inspect.exchange_count semantics (hash/range
        # partitioning ONLY — 'Exchange SinglePartition' is a driver-side
        # collect barrier, not a data shuffle), scoped to final-plan nodes.
        # The tree header line is just 'Exchange (n)'; the partitioning
        # lives in the node's detail-section Arguments line (ADVICE r9:
        # counting bare 'Exchange' in the tree inflated the snapshot
        # number relative to what tests/test_plans.py asserts).
        shuffle_ids = {
            nid
            for nid, part in re.findall(
                r"^\((\d+)\) Exchange\n(?:(?!^\()[^\n]*\n)*?"
                r"Arguments: (hashpartitioning|rangepartitioning)",
                plan,
                re.M,
            )
            if nid in tree_ids
        }

        # codegen spans scoped to final-plan nodes: the detail sections
        # also annotate Initial-Plan-only nodes
        codegen_ids = {
            k
            for nid, k in re.findall(
                r"^\((\d+)\) .*\[codegen id : (\d+)\]", plan, re.M
            )
            if nid in tree_ids
        }
        summary = (
            f"shuffle_exchanges={len(shuffle_ids)} "
            f"broadcast_joins={n_nodes('BroadcastHashJoin')} "
            f"sort_merge_joins={n_nodes('SortMergeJoin')} "
            f"forced_broadcast_hints={inspect.broadcast_hint_count(df)} "
            f"pushed_filters={'yes' if inspect.has_pushed_filters(df) else 'no'} "
            f"codegen_spans={len(codegen_ids)}"
        )
        body = "\n".join(shown)
        if truncated > 0:
            body += f"\n... ({truncated} more lines)"
        sections.append(f"## {name}\n\n`{summary}`\n\n```\n{body}\n```\n")

    header = (
        "# PLANS — formatted physical plans of the benchmark's queries\n\n"
        f"Generated by `scripts/dump_plans.py` at `{args.sf}` "
        f"(local[{nproc}], shuffle={shuffle}, `session.get_spark` defaults) "
        "for the `batch` workload's queries in `perfbench/workloads.py`.  "
        "`shuffle_exchanges` counts hash/range "
        "partitioning exchanges only (the `inspect.exchange_count` "
        "semantics `tests/test_plans.py` asserts; `Exchange "
        "SinglePartition` collect barriers are excluded); regenerate "
        "after any operator change so plan-shape regressions show up in "
        "the git diff.\n\n"
    )
    with open(args.out, "w") as f:
        f.write(header + "\n".join(sections))
    print(f"wrote {args.out}: {len(sections)} plans")
    return 0


if __name__ == "__main__":
    sys.exit(main())
