"""Stage-level attribution for one registry query (guide §1.1 empirical
loop): run the query under the bench's extended-tier conf, then pull the
completed stages from the Spark UI REST API and print wall-clock, task
time, I/O and shuffle bytes per stage, heaviest first.  Each run also
prints the generated classes it compiled and their compile milliseconds,
and the tasks that ran a Python node with their summed ``pythonTotalTime``
(JVM task start to Python finish) per task.

Usage:  python scripts/profile_stages.py <query> [--sf /root/testdata/sf0.1]
        [--width 32] [--runs 1] [--noop]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.records import KERNEL_MARKERS  # noqa: E402

# the total of a SQL-UI timing metric: "1.2 s", or with more than one task
# "total (min, med, max (stageId: taskId))\n1.2 s (300 ms, ...)"
_TOTAL = re.compile(r"(?:^|\n)([\d.]+) (ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _runs_python(cluster) -> bool:
    """Whether an RDD operation-graph cluster (one per plan node that built
    the stage's RDDs) or one nested in it is a Python node."""
    if any(k in cluster.name() for k in KERNEL_MARKERS):
        return True
    children = cluster.childClusters()
    return any(_runs_python(children.apply(i)) for i in range(children.size()))


def python_tasks(spark, rest, group: str, timeout: float = 10.0) -> tuple[int, float]:
    """(tasks, seconds): the tasks of job group ``group``'s stages that ran
    a Python node, and the Python nodes' summed ``pythonTotalTime`` ("time
    to run Python workers": JVM task start to Python finish)."""
    deadline = time.time() + timeout
    while True:  # the UI store is fed by an asynchronous listener bus
        runs = [e for e in rest("sql?details=true&planDescription=false")
                if e["description"] == group]
        if (runs and all(e["status"] != "RUNNING" for e in runs)) or time.time() > deadline:
            break
        time.sleep(0.05)
    total = 0.0
    for e in runs:
        for node in e["nodes"]:
            if any(k in node["nodeName"] for k in KERNEL_MARKERS):
                for m in node["metrics"]:
                    hit = m["name"] == "time to run Python workers" and _TOTAL.search(m["value"])
                    if hit:
                        total += float(hit[1]) * _UNIT_S[hit[2]]
    tracker = spark.sparkContext.statusTracker()
    store = spark.sparkContext._jsc.sc().statusStore()
    tasks = 0
    for jid in tracker.getJobIdsForGroup(group):
        for sid in tracker.getJobInfo(jid).stageIds:
            info = tracker.getStageInfo(sid)
            if info and info.numCompletedTasks and _runs_python(
                store.operationGraphForStage(sid).rootCluster()
            ):
                tasks += info.numCompletedTasks
    return tasks, total


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("query")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--width", default="32")
    ap.add_argument("--runs", type=int, default=1)
    ap.add_argument("--noop", action="store_true", help="time via noop sink")
    args = ap.parse_args()

    from gcp_cloudsql_to_bigquery_spark.session import get_spark
    from gcp_cloudsql_to_bigquery_spark.workload import queries

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name=f"profile_{args.query}",
        master=f"local[{cpus}]",
        shuffle_partitions=int(args.width),
        extra_conf={
            "spark.sql.files.maxPartitionBytes": "2m",
            "spark.sql.adaptive.enabled": "false",
        },
    )
    qs = queries()
    # JVM-wide count and time of generated-class compiles (cache misses of
    # Spark's codegen class cache); a warm run that still compiles shows here
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def compiled() -> tuple[int, float]:
        # (classes, ms); the histogram keeps a sample, so mean x count
        # estimates the total milliseconds
        n = compiles.getCount()
        return n, compiles.getSnapshot().getMean() * n

    ui = spark.sparkContext.uiWebUrl
    app_id = json.load(urllib.request.urlopen(f"{ui}/api/v1/applications"))[0]["id"]

    def rest(path: str):
        return json.load(urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/{path}"))

    for i in range(args.runs):
        spark.catalog.clearCache()
        group = f"{args.query} run {i}"
        spark.sparkContext.setJobGroup(group, group)
        n0, ms0 = compiled()
        t0 = time.time()
        df = qs[args.query](spark, args.sf)
        if args.noop:
            df.write.format("noop").mode("overwrite").save()
        else:
            df.toPandas()
        wall = time.time() - t0
        n1, ms1 = compiled()
        print(
            f"run {i}: {wall:.3f}s  codegen: {n1 - n0} classes compiled, {ms1 - ms0:.0f} ms",
            flush=True,
        )
        tasks, py_s = python_tasks(spark, rest, group)
        per_task = f"{1000 * py_s / tasks:.0f} ms" if tasks else "-"
        print(f"run {i}: python: {tasks} tasks, pythonTotalTime {per_task} per task", flush=True)

    stages = rest("stages?status=complete")
    rows = []
    for s in stages:
        sub = s.get("firstTaskLaunchedTime") or s.get("submissionTime")
        comp = s.get("completionTime")
        if not (sub and comp):
            continue
        fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
        wall = (
            time.mktime(time.strptime(comp, fmt))
            + float(comp[20:23]) / 1000
            - time.mktime(time.strptime(sub, fmt))
            - float(sub[20:23]) / 1000
        )
        rows.append(
            dict(
                id=s["stageId"],
                attempt=s["attemptId"],
                wall=round(wall, 2),
                task_s=round(s.get("executorRunTime", 0) / 1000, 1),
                cpu_s=round(s.get("executorCpuTime", 0) / 1e9, 1),
                tasks=s.get("numCompleteTasks"),
                in_rec=s.get("inputRecords"),
                sh_r_mb=round(s.get("shuffleReadBytes", 0) / 1e6, 1),
                sh_r_rec=s.get("shuffleReadRecords"),
                sh_w_mb=round(s.get("shuffleWriteBytes", 0) / 1e6, 1),
                sh_w_rec=s.get("shuffleWriteRecords"),
                spill_mb=round(s.get("diskBytesSpilled", 0) / 1e6, 1),
                name=(s.get("name") or "")[:70],
            )
        )
    rows.sort(key=lambda r: -r["wall"])
    hdr = (
        "stage att  wall  task_s  cpu_s tasks    in_rec  shR_MB   shR_rec"
        "  shW_MB   shW_rec spill  name"
    )
    print(hdr)
    for r in rows[:25]:
        print(
            f'{r["id"]:>5} {r["attempt"]:>3} {r["wall"]:>5} {r["task_s"]:>7}'
            f' {r["cpu_s"]:>6} {r["tasks"]:>5} {r["in_rec"]:>9} {r["sh_r_mb"]:>7}'
            f' {r["sh_r_rec"]:>9} {r["sh_w_mb"]:>7} {r["sh_w_rec"]:>9}'
            f' {r["spill_mb"]:>5} {r["name"]}'
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
