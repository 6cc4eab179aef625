"""Spark's own records of an operation, read after the call returns.

Everything here is read from outside the engine, through public surfaces:

- job ids per job group (``StatusTracker.getJobIdsForGroup``);
- job and stage records from the UI's REST API (``/api/v1``) on localhost:
  skipped tasks, task/CPU/GC time, shuffle, spill and I/O bytes, stage
  submission and completion times;
- SQL metrics of the executed physical plan (``numOutputRows`` and the
  Python-runner metrics of MapInPandas/ArrowEvalPython nodes);
- ``StreamingQueryListener`` progress events (trigger durations), whose
  run ids are also the job groups of the micro-batch jobs;
- ``/proc`` resident memory of the driver JVM and its Python workers.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import threading
import time
import urllib.request

from pyspark.sql.streaming import StreamingQueryListener

# REST stage fields summed into the spark.* layer metrics, with the factor
# that converts each into the unit of the metric it feeds.
STAGE_FIELDS = {
    "executorRunTime": ("task_s", 1e-3),
    "executorCpuTime": ("cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "shuffleReadBytes": ("shuffle_read_mb", 1 / 2**20),
    "shuffleWriteBytes": ("shuffle_write_mb", 1 / 2**20),
    "shuffleFetchWaitTime": ("shuffle_fetch_wait_s", 1e-3),
    "memoryBytesSpilled": ("spill_mb", 1 / 2**20),
    "diskBytesSpilled": ("spill_mb", 1 / 2**20),
    "inputBytes": ("input_mb", 1 / 2**20),
    "outputBytes": ("output_mb", 1 / 2**20),
}

# Physical nodes that run Python: mapInPandas/mapInArrow, pandas UDFs,
# grouped/cogrouped applyInPandas, Python UDTFs.
KERNEL_MARKERS = ("Python", "InPandas", "InArrow")


def rest_time(s: str | None) -> float | None:
    """REST timestamps look like ``2026-01-01T12:00:00.123GMT``."""
    if not s:
        return None
    t = _dt.datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=_dt.timezone.utc).timestamp()


class StreamProgress(StreamingQueryListener):
    """Collects every streaming query's run id and progress events."""

    def __init__(self):
        self.lock = threading.Lock()
        self.started: list[str] = []
        self.terminated: set[str] = set()
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        with self.lock:
            self.started.append(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        with self.lock:
            self.progress.append(
                {
                    "run_id": str(p.runId),
                    "start": rest_time(p.timestamp.replace("Z", "GMT")),
                    "rows": p.numInputRows,
                    "ms": dict(p.durationMs),
                }
            )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self.lock:
            self.terminated.add(str(event.runId))

    def mark(self) -> tuple[int, int]:
        with self.lock:
            return len(self.started), len(self.progress)

    def since(self, mark: tuple[int, int], timeout: float = 10.0):
        """Run ids and progress events recorded after ``mark``, once every
        query started since then has reported its termination."""
        deadline = time.time() + timeout
        while True:
            with self.lock:
                runs = self.started[mark[0]:]
                done = all(r in self.terminated for r in runs)
                if done or time.time() > deadline:
                    return runs, list(self.progress[mark[1]:])
            time.sleep(0.01)


class SparkRecords:
    """Reads the REST records of one application."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.load(r)

    def settled_jobs(self, since: float, timeout: float = 10.0) -> list[dict]:
        """Every job submitted at or after ``since`` (epoch seconds), once
        none is running and the list stopped growing between two reads
        (the UI store is fed by an asynchronous listener bus)."""
        deadline = time.time() + timeout
        prev = None
        while True:
            jobs = [
                j for j in self._get("/jobs")
                if (rest_time(j.get("submissionTime")) or since) >= since - 0.005
            ]
            ids = sorted(j["jobId"] for j in jobs)
            settled = all(j["status"] != "RUNNING" for j in jobs)
            if (settled and ids == prev) or time.time() > deadline:
                return jobs
            prev = ids if settled else None
            time.sleep(0.01)

    def all_stages(self) -> list[dict]:
        """Every stage attempt of the application, skipped ones included
        (status ``SKIPPED``)."""
        return self._get("/stages?details=false")


def skipped_tasks(stages: list[dict], since: float) -> tuple[int, int]:
    """Split the skipped tasks of one operation's jobs into (stale, reused).

    Adaptive execution runs each shuffle map stage as its own job, and the
    next job lists it again as a skipped parent: those tasks ran inside the
    same operation (a stage that ran has the same RDD ids) and are
    ``reused``.  A skipped stage whose RDDs no stage of the operation ran,
    or a stage that ran before the operation started, is ``stale``: the
    operation read shuffle output of an earlier execution."""
    ran = {frozenset(s.get("rddIds", ())) for s in stages if s["status"] != "SKIPPED"}
    stale = reused = 0
    for s in stages:
        if s["status"] == "SKIPPED":
            if frozenset(s.get("rddIds", ())) in ran:
                reused += s["numTasks"]
            else:
                stale += s["numTasks"]
        elif (rest_time(s.get("completionTime")) or since) < since - 1e-3:
            stale += s["numTasks"]
    return stale, reused


def stage_totals(stages: list[dict]) -> dict[str, float]:
    """Sums over stage attempts that ran."""
    tot = {name: 0.0 for name, _ in STAGE_FIELDS.values()}
    for s in stages:
        for field, (name, k) in STAGE_FIELDS.items():
            tot[name] += (s.get(field) or 0) * k
    tot["stages"] = len(stages)
    tot["tasks"] = sum(s.get("numCompleteTasks", 0) for s in stages)
    return tot


def _scala_map(jvm, m) -> dict:
    return dict(jvm.scala.jdk.javaapi.CollectionConverters.asJava(m))


def _children(node):
    seq = node.children()
    return [seq.apply(i) for i in range(seq.size())]


def plan_nodes(spark, df):
    """(class name, {metric name: (type, value)}) of every node of the
    executed physical plan, looking through adaptive-execution wrappers and
    query stages; reused exchanges are skipped so no metric counts twice."""
    jvm = spark._jvm
    out = []
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            continue
        metrics = {
            k: (m.metricType(), m.value())
            for k, m in _scala_map(jvm, node.metrics()).items()
        }
        out.append((cls, metrics))
        stack.extend(_children(node))
        subs = node.subqueries()
        stack.extend(subs.apply(i) for i in range(subs.size()))
    return out


def _metric_seconds(mtype: str, value: int) -> float:
    return value * (1e-9 if mtype == "nsTiming" else 1e-3)


def plan_totals(nodes) -> dict[str, float]:
    tot = {
        "rows_examined": 0.0,
        "kernel_nodes": 0.0,
        "python_s": 0.0,
        "boot_init_s": 0.0,
        "mb_sent": 0.0,
        "mb_recv": 0.0,
        "kernel_rows": 0.0,
    }
    for cls, m in nodes:
        if "numOutputRows" in m:
            tot["rows_examined"] += m["numOutputRows"][1]
        if not any(k in cls for k in KERNEL_MARKERS):
            continue
        tot["kernel_nodes"] += 1
        for name, key in (("pythonTotalTime", "python_s"),
                          ("pythonBootTime", "boot_init_s"),
                          ("pythonInitTime", "boot_init_s")):
            if name in m:
                tot[key] += _metric_seconds(*m[name])
        tot["mb_sent"] += m.get("pythonDataSent", ("", 0))[1] / 2**20
        tot["mb_recv"] += m.get("pythonDataReceived", ("", 0))[1] / 2**20
        tot["kernel_rows"] += m.get("pythonNumRowsReceived", ("", 0))[1]
    return tot


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _child_pids(pid: int) -> list[int]:
    """Processes whose parent is ``pid`` (one scan of /proc)."""
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    if int(fh.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(name))
            except (OSError, IndexError, ValueError):
                pass
    return out


class RssSampler(threading.Thread):
    """Peak resident memory of the driver JVM plus its Python workers.

    The JVM's own peak is the kernel's high-water mark (``VmHWM``); the
    workers (children of the JVM's ``pyspark.daemon``) are summed every
    250 ms and their peak sum is added."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid = pid
        self.workers_peak_kb = 0
        self._stop_evt = threading.Event()

    def run(self):
        daemons: list[int] = []
        while not self._stop_evt.is_set():
            if not daemons:
                daemons = _child_pids(self.pid)
            workers = [w for d in daemons for w in [d, *_children_of_daemon(d)]]
            kb = sum(_status_kb(p, "VmRSS:") for p in workers)
            self.workers_peak_kb = max(self.workers_peak_kb, kb)
            self._stop_evt.wait(0.25)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return (_status_kb(self.pid, "VmHWM:") + self.workers_peak_kb) / 1024


def _children_of_daemon(pid: int) -> list[int]:
    # the daemon is single-threaded, so its children are listed on its
    # main task
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as fh:
            return [int(c) for c in fh.read().split()]
    except OSError:
        return []
