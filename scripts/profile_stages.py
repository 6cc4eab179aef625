"""Stage-level attribution for one registry query (guide §1.1 empirical
loop): run the query under the bench's extended-tier conf, then pull the
completed stages from the Spark UI REST API and print wall-clock, task
time, I/O and shuffle bytes per stage, heaviest first.  Each run also
prints the generated classes it compiled and their compile milliseconds.

Usage:  python scripts/profile_stages.py <query> [--sf /root/testdata/sf0.1]
        [--width 32] [--runs 1] [--noop]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


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

    for i in range(args.runs):
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(f"{args.query} run {i}")
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

    ui = spark.sparkContext.uiWebUrl
    apps = json.load(urllib.request.urlopen(f"{ui}/api/v1/applications"))
    app_id = apps[0]["id"]
    stages = json.load(
        urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app_id}/stages?status=complete"
        )
    )
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
