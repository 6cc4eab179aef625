"""Closed-loop benchmark of the engine, one client, fresh execution per op.

Usage (from the repository root)::

    python3 perfbench/run.py --workload batch --seed 1 --seconds 5 --trace 0

One driver thread issues the workload's operations back to back on
``local[nproc]`` with the engine's own ``session.get_spark`` defaults.
Every operation is rebuilt through its registry function, so every timed
execution is a new QueryExecution; ``spark.catalog.clearCache()`` runs
before each one and its job group is checked for skipped tasks afterwards
(a nonzero count fails the operation).  ``--seed`` orders the operations in
each warm pass and draws the ETL workload's NULL sentinels; the first pass
runs them in listed order, and the catalog tables come from a fixed
generator seed.

A run: set up three times (the first from process start, the others by
restarting the Spark context; ``setup_s`` is the median), one first pass,
then warm passes for ``--seconds`` (at least two), then the result checks
against the DuckDB oracle.  ``--trace 1`` alternates
untraced and traced warm passes, reports per-layer metrics from the traced
ones and the tracing overhead, and writes the spans to ``.perfbench_out/``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics untraced, per-layer metrics
traced).  See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = 0.01
N_SETUPS = 3
E2E_UNITS = {
    "setup_s": "s",
    "first_pass_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=SCALE, help="generator scale factor")
    return ap.parse_args(argv)


def hermetic_env(run_dir: str) -> dict[str, str]:
    """Keep every file a run writes under ``run_dir`` and let the Python
    workers import the engine whatever the working directory."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "data", "etl", "out", "cwd")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    os.chdir(dirs["cwd"])  # spark-warehouse/ and derby files land here
    sys.path[:0] = [ROOT, HERE]
    return dirs


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pct(values, q):
    """The q-th percentile (0-100) by linear interpolation."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    k = (len(v) - 1) * q / 100
    i = int(k)
    return v[i] + (v[min(i + 1, len(v) - 1)] - v[i]) * (k - i)


def tail_percentile(values) -> tuple[int, float]:
    """The highest of p50/p75/p90/p95/p99 with at least 10 samples beyond."""
    best = (50, pct(values, 50))
    for q in (75, 90, 95, 99):
        if len(values) * (100 - q) / 100 >= 10:
            best = (q, pct(values, q))
    return best


class Bench:
    def __init__(self, args, dirs):
        self.args = args
        self.dirs = dirs
        self.spark = None
        self.results: list[dict] = []  # one per executed operation
        self.spans: list[dict] = []
        self.fingerprints: dict[str, tuple] = {}  # op -> (fingerprint, digest)

    # --- set-up ------------------------------------------------------------

    def setup(self, first: bool) -> float:
        import gen
        from gcp_cloudsql_to_bigquery_spark.session import get_spark
        from records import SparkRecords, StreamProgress
        from workloads import Ctx

        t0 = T_PROCESS if first else time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        for key in ("data", "etl"):
            shutil.rmtree(self.dirs[key])
            os.makedirs(self.dirs[key])
        tables = gen.write_catalog(self.dirs["data"], self.args.scale)
        etl = {}
        if self.args.workload == "etl_ingest":
            etl = gen.write_etl_exports(tables, self.dirs["etl"], self.args.seed)
        self.source_bytes = {
            t: os.path.getsize(os.path.join(self.dirs["data"], f"{t}.parquet"))
            for t in tables
        }
        self.source_rows = {t: tables[t].num_rows for t in tables}
        self.spark = get_spark(master=f"local[{nproc()}]")
        self.listener = StreamProgress()
        self.spark.streams.addListener(self.listener)
        self.records = SparkRecords(self.spark)
        self.ctx = Ctx(self.spark, self.dirs["data"], etl, self.dirs["out"])
        return time.perf_counter() - t0

    # --- one operation -----------------------------------------------------

    def run_op(self, op, traced: bool, pass_no: int) -> dict:
        from records import plan_nodes, plan_totals
        from workloads import clear_outputs

        spark, sc = self.spark, self.spark.sparkContext
        spark.catalog.clearCache()
        group = f"perfbench-{len(self.results)}"
        sc.setJobGroup(group, op.name)
        mark = self.listener.mark()
        tmp_before = set(os.listdir(self.dirs["tmp"]))
        res = {"op": op.name, "kind": op.kind, "pass": pass_no, "traced": traced, "error": None}
        t = {}
        out = built = None
        t["start"] = time.time()
        try:
            built = op.build(self.ctx)
            t["built"] = time.time()
            if op.kind == "query":
                built._jdf.queryExecution().executedPlan()
            t["planned"] = time.time()
            out = op.run(self.ctx, built)
        except Exception as e:  # the failure is counted, the run goes on
            traceback.print_exc()
            res["error"] = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
        t["end"] = time.time()
        t.setdefault("built", t["end"])
        t.setdefault("planned", t["end"])
        res.update(wall_s=t["end"] - t["start"], t=t, group=group)
        sc.setJobGroup("perfbench-check", "result checks")
        res["runs"], res["progress"] = self.listener.since(mark)
        if res["error"] is None:
            self.check_output(op, built, out, res)
        if traced and op.kind == "query" and out is not None:
            res["collect_rows"] = len(out)
            res["collect_mb"] = float(out.memory_usage(deep=True).sum()) / 2**20
            res["plan"] = plan_totals(plan_nodes(spark, built))
        clear_outputs(self.ctx, op)
        for name in set(os.listdir(self.dirs["tmp"])) - tmp_before:
            if name != "spark_graft_tmp_ledger":
                shutil.rmtree(os.path.join(self.dirs["tmp"], name), ignore_errors=True)
        self.results.append(res)
        return res

    def check_output(self, op, built, out, res) -> None:
        import check
        from workloads import export_lines_and_bytes

        if op.kind == "query":
            res["rows"] = len(out)
            # every execution must equal the first, whose full digest is
            # checked against the oracle; a cheap fingerprint decides
            # equality and the canonical digest settles any difference
            fp = check.fingerprint(out)
            seen = self.fingerprints.get(op.name)
            if fp is not None and seen is not None and seen[0] == fp:
                res["digest"] = seen[1]
            else:
                res["digest"] = check.spark_digest(out, built.schema)
                self.fingerprints.setdefault(op.name, (fp, res["digest"]))
        elif op.kind == "load":
            expect = self.ctx.etl[op.name[len("load_"):]]
            bad = check.load_mismatches(out, expect)
            res["rows_loaded"] = out["n_rows"]
            res["sentinels"] = expect["sentinels"]
            res["nulls_recovered"] = sum(v for k, v in out.items() if k.startswith("nulls_"))
            if bad:
                res["error"] = "load mismatch: " + "; ".join(bad[:4])
        else:
            table = op.name[len("export_"):]
            data_path, _ = out
            lines, size = export_lines_and_bytes(data_path)
            res["csv_bytes"] = size
            res["input_bytes"] = self.source_bytes[table]
            rows = self.source_rows[table]
            if lines != rows:
                res["error"] = f"export wrote {lines} lines, source has {rows} rows"

    # --- Spark's records, read after each pass ------------------------------

    def attach_records(self, results: list[dict]) -> None:
        """Give every operation of a finished pass its jobs and stages:
        jobs of its own group or of its streams' run ids, plus jobs without
        a group (Python callbacks such as ``foreachBatch`` run outside the
        group) submitted while it ran.  Splits its skipped tasks into stale
        and reused ones, and on traced passes adds stage totals and spans."""
        import trace
        from records import rest_time, skipped_tasks, stage_totals

        since = min(r["t"]["start"] for r in results)
        jobs = self.records.settled_jobs(since)
        attempts: dict[int, list[dict]] = {}
        for a in self.records.all_stages():
            attempts.setdefault(a["stageId"], []).append(a)
        for res in results:
            t = res["t"]
            groups = {res["group"], *res["runs"]}
            mine = [
                j for j in jobs
                if j.get("jobGroup") in groups
                or (
                    j.get("jobGroup") is None
                    and t["start"] - 0.005 <= rest_time(j["submissionTime"]) <= t["end"] + 0.005
                )
            ]
            stages = [a for sid in sorted({s for j in mine for s in j["stageIds"]}) for a in attempts.get(sid, [])]
            res["skipped_tasks"], res["reused_tasks"] = skipped_tasks(stages, t["start"])
            if not res["traced"]:
                continue
            ran = [s for s in stages if s["status"] != "SKIPPED"]
            res["jobs"] = len(mine)
            res["spark"] = stage_totals(ran)
            res["build_s"] = t["built"] - t["start"]
            res["plan_s"] = t["planned"] - t["built"]
            res["execute_s"] = t["end"] - t["planned"]
            run_span = {"query": "execute", "load": "ingest.load", "export": "ingest.export"}[res["kind"]]
            spans = [
                {"name": "op", "start": t["start"], "end": t["end"], "parent": None},
                {"name": "operators.build", "start": t["start"], "end": t["built"], "parent": 0},
            ]
            if res["kind"] == "query":
                spans.append({"name": "catalyst.plan", "start": t["built"], "end": t["planned"], "parent": 0})
            spans.append({"name": run_span, "start": t["planned"], "end": t["end"], "parent": 0})
            ends = [rest_time(s.get("completionTime")) for s in ran]
            if "collect_rows" in res:
                last_stage = max([e for e in ends if e] or [t["end"]])
                res["collect_s"] = max(0.0, t["end"] - last_stage)
                spans.append({"name": "collect", "start": t["end"] - res["collect_s"], "end": t["end"], "parent": len(spans) - 1})
            extra = [
                {"name": "spark.stage", "start": rest_time(s["submissionTime"]), "end": e}
                for s, e in zip(ran, ends)
                if e and s.get("submissionTime")
            ]
            triggers = [p for p in res["progress"] if p["start"] is not None]
            extra += [
                {"name": "streaming.trigger", "start": p["start"], "end": p["start"] + p["ms"].get("triggerExecution", 0) / 1e3}
                for p in triggers
            ]
            trace.attach(spans, extra)
            res["self"] = trace.self_times(spans)
            ms = lambda *keys: sum(p["ms"].get(k, 0) for p in triggers for k in keys) / 1e3  # noqa: E731
            res["streaming"] = {
                "batches": len(triggers),
                "trigger_s": ms("triggerExecution"),
                "addbatch_s": ms("addBatch"),
                "planning_s": ms("queryPlanning"),
                "commit_s": ms("walCommit", "commitOffsets"),
            }
            op_id = self.results.index(res)
            for s in spans:
                s.update(op=op_id, op_name=res["op"])
            self.spans.extend(spans)

    # --- passes ------------------------------------------------------------

    def run_pass(self, ops, rng, traced: bool, pass_no: int) -> float:
        """Run every operation once, in a seeded order when ``rng`` is
        given and in listed order otherwise; return the pass's wall time
        (sum of the timed operation intervals)."""
        order = list(ops)
        if rng is not None:
            rng.shuffle(order)
        results = [self.run_op(op, traced, pass_no) for op in order]
        self.attach_records(results)
        return sum(r["wall_s"] for r in results)

    # --- oracle ------------------------------------------------------------

    def reference_digests(self, names) -> tuple[dict, dict]:
        """The DuckDB oracle's digest per query op on the same parquet, and
        its warm time per op."""
        import check
        import duckdb

        from gcp_cloudsql_to_bigquery_spark import workload
        from gcp_cloudsql_to_bigquery_spark.catalog import TABLES

        oracles = workload.oracle_sql()
        con = duckdb.connect()
        con.execute(f"SET threads={nproc()}")
        for t in TABLES:
            path = os.path.join(self.dirs["data"], f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        ref, oracle_s = {}, {}
        for name in names:
            for _ in range(2):  # the second, warm execution is timed
                t0 = time.perf_counter()
                cur = con.execute(oracles[name])
                rows = cur.fetchall()
                oracle_s[name] = time.perf_counter() - t0
            ref[name] = check.duckdb_digest([d[0] for d in cur.description], rows)
        con.close()
        return ref, oracle_s


def op_medians(results, passes) -> dict[str, float]:
    """Median wall time per operation over the given passes."""
    walls: dict[str, list[float]] = {}
    for r in results:
        if r["pass"] in passes:
            walls.setdefault(r["op"], []).append(r["wall_s"])
    return {name: statistics.median(v) for name, v in walls.items()}


def duckdb_ratio(results, passes, oracle_s) -> float:
    """Spark's median time over DuckDB's for the ops the oracle timed."""
    med = op_medians(results, passes)
    return sum(med[name] for name in oracle_s) / sum(oracle_s.values())


def summarize_traced(results, passes) -> dict[str, float]:
    """Per-layer metrics: per-pass totals over the traced warm passes, and
    the median over those passes."""
    per_pass = []
    for p in passes:
        rs = [r for r in results if r["pass"] == p]
        tot = {}

        def add(k, v):
            tot[k] = tot.get(k, 0.0) + v

        for r in rs:
            add("operators.build_s", r.get("build_s", 0.0))
            add("catalyst.plan_s", r.get("plan_s", 0.0))
            add("execute_s", r.get("execute_s", 0.0))
            add("spark.jobs", r.get("jobs", 0))
            for k, v in r.get("spark", {}).items():
                add(f"spark.{k}", v)
            add("spark.skipped_tasks", r.get("skipped_tasks", 0))
            add("spark.reused_tasks", r.get("reused_tasks", 0))
            pl = r.get("plan", {})
            add("plan_rows_examined", pl.get("rows_examined", 0.0))
            add("result_rows", r.get("collect_rows", 0) if pl else 0)
            add("kernels.nodes", pl.get("kernel_nodes", 0.0))
            add("kernels.python_s", pl.get("python_s", 0.0))
            add("kernels.boot_init_s", pl.get("boot_init_s", 0.0))
            add("kernels.mb_sent", pl.get("mb_sent", 0.0))
            add("kernels.mb_recv", pl.get("mb_recv", 0.0))
            add("kernels.rows", pl.get("kernel_rows", 0.0))
            add("collect.s", r.get("collect_s", 0.0))
            add("collect.rows", r.get("collect_rows", 0))
            add("collect.mb", r.get("collect_mb", 0.0))
            if r["kind"] == "export":
                add("ingest.export_s", r["execute_s"])
                add("csv_bytes", r.get("csv_bytes", 0))
                add("csv_input_bytes", r.get("input_bytes", 0))
            if r["kind"] == "load":
                add("ingest.load_s", r["execute_s"])
                add("ingest.rows_loaded", r.get("rows_loaded", 0))
                add("sentinels", r.get("sentinels", 0))
                add("nulls_recovered", r.get("nulls_recovered", 0))
            for k, v in r.get("streaming", {}).items():
                add(f"streaming.{k}", v)
            for k, v in r.get("self", {}).items():
                add(f"self.{k}_s", v)
        tot["spark.parallelism"] = tot.get("spark.task_s", 0.0) / max(tot.get("execute_s", 0.0), 1e-9)
        tot["plans.rows_examined_per_row_out"] = tot.pop("plan_rows_examined", 0.0) / max(tot.pop("result_rows", 0.0), 1.0)
        tot["ingest.csv_bytes_per_input_byte"] = tot.pop("csv_bytes", 0.0) / max(tot.pop("csv_input_bytes", 0.0), 1.0)
        tot["ingest.nulls_recovered_ratio"] = tot.pop("nulls_recovered", 0.0) / max(tot.pop("sentinels", 0.0), 1.0)
        tot["ingest.load_rows_per_s"] = tot.get("ingest.rows_loaded", 0.0) / max(tot.get("ingest.load_s", 0.0), 1e-9) if tot.get("ingest.load_s") else 0.0
        tot.pop("execute_s", None)
        per_pass.append(tot)
    keys = sorted(set().union(*per_pass))
    return {k: statistics.median(p.get(k, 0.0) for p in per_pass) for k in keys}


PER_LAYER_UNITS = {
    "operators.build_s": "s",
    "catalyst.plan_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.skipped_tasks": "count",
    "spark.reused_tasks": "count",
    "spark.task_s": "s",
    "spark.cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_fetch_wait_s": "s",
    "spark.spill_mb": "MB",
    "spark.input_mb": "MB",
    "spark.output_mb": "MB",
    "spark.parallelism": "ratio",
    "plans.rows_examined_per_row_out": "ratio",
    "kernels.nodes": "count",
    "kernels.python_s": "s",
    "kernels.boot_init_s": "s",
    "kernels.mb_sent": "MB",
    "kernels.mb_recv": "MB",
    "kernels.rows": "count",
    "collect.s": "s",
    "collect.rows": "count",
    "collect.mb": "MB",
    "ingest.export_s": "s",
    "ingest.load_s": "s",
    "ingest.csv_bytes_per_input_byte": "ratio",
    "ingest.rows_loaded": "count",
    "ingest.nulls_recovered_ratio": "ratio",
    "ingest.load_rows_per_s": "1/s",
    "streaming.batches": "count",
    "streaming.trigger_s": "s",
    "streaming.addbatch_s": "s",
    "streaming.planning_s": "s",
    "streaming.commit_s": "s",
    "session.peak_rss_mb": "MB",
    "oracle.duckdb_s": "s",
    "oracle.duckdb_ratio": "ratio",
    "self.operators_s": "s",
    "self.catalyst_s": "s",
    "self.driver_s": "s",
    "self.spark_s": "s",
    "self.collect_s": "s",
    "self.ingest_s": "s",
    "self.streaming_s": "s",
    "trace.overhead_s": "s",
}


def stop_processes() -> None:
    """Stop the Spark context, then end the JVM (it exits when its stdin
    closes) and wait for it; the Python workers are the JVM's children.
    Does nothing when no JVM was started, and again after the first call."""
    from pyspark import SparkContext

    if SparkContext._gateway is None:
        return
    proc = SparkContext._gateway.proc
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=base)
    try:
        return bench(args, run_dir)
    finally:
        stop_processes()  # also when the run failed
        shutil.rmtree(run_dir, ignore_errors=True)


def bench(args, run_dir: str) -> int:
    dirs = hermetic_env(run_dir)

    # fails here, before any output, when the engine is not importable
    from gcp_cloudsql_to_bigquery_spark import workload  # noqa: F401
    from gcp_cloudsql_to_bigquery_spark.streaming import elt, events

    from records import RssSampler
    from workloads import operations

    # streaming checkpoints default to /dev/shm; keep them in the run dir
    elt._CKPT_DIR = events._CKPT_DIR = dirs["tmp"]
    ops = operations(args.workload)

    b = Bench(args, dirs)
    setups = [b.setup(first=i == 0) for i in range(N_SETUPS)]
    from pyspark import SparkContext

    sampler = RssSampler(SparkContext._gateway.proc.pid)
    sampler.start()
    rng = random.Random(args.seed)

    # the cold pass keeps the listed order, as a scheduled job runs its
    # steps: whichever operation comes first pays the JIT and worker start,
    # so a seeded order would move this figure by several seconds
    first_pass = b.run_pass(ops, None, False, 0)
    traced_passes, untraced_passes = [], []
    t0 = time.perf_counter()
    p = 1
    while True:
        traced = bool(args.trace) and p % 2 == 0
        b.run_pass(ops, rng, traced, p)
        (traced_passes if traced else untraced_passes).append(p)
        p += 1
        # two untraced warm passes, and when tracing a traced one between
        # them: the JVM still warms up over the first warm passes, so the
        # traced pass is compared with untraced passes on both sides
        enough = len(untraced_passes) >= 2 and (len(traced_passes) >= 1 or not args.trace)
        if enough and time.perf_counter() - t0 >= args.seconds:
            break
    peak_rss = sampler.stop()

    names = [op.name for op in ops if op.kind == "query"]
    ref, oracle_s = b.reference_digests(names)
    # the DuckDB ratio is reported where every operation is a query
    with_ratio = len(names) == len(ops)
    for r in b.results:
        if r["error"] is None and "digest" in r:
            want = ref[r["op"]]
            if r["digest"] != want:
                r["error"] = f"digest {r['digest']} != reference {want} ({r['rows']} rows)"
        if r["error"] is None and r["skipped_tasks"]:
            r["error"] = f"{r['skipped_tasks']} skipped tasks reuse an earlier execution's shuffle"
    stop_processes()

    failed = [r for r in b.results if r["error"]]
    for r in failed:
        print(f"FAILED {r['op']} (pass {r['pass']}): {r['error']}", file=sys.stderr)
    untraced_ops = [r["wall_s"] for r in b.results if r["pass"] in untraced_passes]
    # a typical warm pass is the sum of each operation's median warm time,
    # and the op percentiles run over those medians: one slow execution of
    # one operation moves neither
    op_median = op_medians(b.results, untraced_passes)
    pass_s = sum(op_median.values())
    e2e = {
        "setup_s": statistics.median(setups),
        "first_pass_s": first_pass,
        "pass_s": pass_s,
        "op_p50_s": pct(op_median.values(), 50),
        "op_p90_s": pct(op_median.values(), 90),
    }
    q, tail = tail_percentile(untraced_ops)
    print(f"workload {args.workload} seed {args.seed} local[{nproc()}] scale {args.scale:g}")
    print(f"setups_s {' '.join(f'{s:.3f}' for s in setups)}")
    print(f"op_tail p{q} {tail:.4f} s over {len(untraced_ops)} ops")
    print(f"fail_ratio {len(failed) / len(b.results):.4f} ratio")
    print(f"peak_rss_mb {peak_rss:.1f} MB")
    if with_ratio:
        ratio = duckdb_ratio(b.results, untraced_passes, oracle_s)
        print(f"duckdb_ratio {ratio:.3f} ratio over {len(oracle_s)} ops")
    loads = [r for r in b.results if r["op"].startswith("load_") and r["pass"] in untraced_passes]
    if loads:
        rows = sum(r.get("rows_loaded", 0) for r in loads)
        print(f"load_rows_per_s {rows / (pass_s * len(untraced_passes)):.1f} 1/s")
    for op in ops:
        first = next(r["wall_s"] for r in b.results if r["op"] == op.name)
        line = f"op {op.name} median {op_median[op.name]:.4f} s first {first:.4f} s"
        if args.trace:
            nodes = [r["plan"]["kernel_nodes"] for r in b.results if r["op"] == op.name and "plan" in r]
            line += f" kernel_nodes {max(nodes, default=0):g}"
        print(line)
    for k, v in e2e.items():
        print(f"{k} {v:.4f} {E2E_UNITS[k]}")

    if args.trace:
        layer = summarize_traced(b.results, traced_passes)
        layer["session.peak_rss_mb"] = peak_rss
        layer["oracle.duckdb_s"] = sum(oracle_s.values())
        if with_ratio:
            layer["oracle.duckdb_ratio"] = duckdb_ratio(b.results, traced_passes, oracle_s)
        # against the untraced passes after the first traced one: the first
        # warm pass still pays JIT warm-up, which would make tracing look
        # free; a later pass is warmer, so the overhead reads high if at all
        after = [p for p in untraced_passes if p > traced_passes[0]]
        layer["trace.overhead_s"] = sum(op_medians(b.results, traced_passes).values()) - sum(
            op_medians(b.results, after).values()
        )
        metrics = {k: {"value": layer.get(k, 0.0), "unit": u} for k, u in PER_LAYER_UNITS.items()}
        for k, m in metrics.items():
            print(f"{k} {m['value']:.4f} {m['unit']}")
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl")
        with open(path, "w") as fh:
            for s in b.spans:
                fh.write(json.dumps(s) + "\n")
        print(f"spans {len(b.spans)} written to {path}")
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(
        json.dumps(
            {
                "correct": not failed,
                "attempted": len(b.results),
                "failed": len(failed),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    try:
        code = main()
    except Exception:
        traceback.print_exc()
        code = 1
    sys.stdout.flush()
    sys.stderr.flush()
    # the py4j callback server's threads can block interpreter shutdown
    # once the JVM is gone; every resource is already released here
    os._exit(code)
