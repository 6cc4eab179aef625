"""SparkSession bootstrap with scale-aware defaults.

Local testing runs ``local[N]`` in one JVM, but every config here is chosen
so the same code is correct on a 1000-executor cluster: AQE on (runtime
re-plan, skew-join splitting, partition coalescing), UTC session timezone
(oracle parity — DuckDB timestamps are UTC-naive), Arrow enabled for the
Pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .tmputil import _SHORT_ROOT, home

# the directory holding this package: on every Python worker's path, so the
# daemon module imports whatever the working directory
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DEFAULT_CONFS: dict[str, str] = {
    # AQE: runtime re-planning — coalesce small shuffle partitions, convert
    # sort-merge→broadcast when the built side turns out small, split skewed
    # partitions.  Essential at 100 TB, harmless locally.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Deterministic oracle comparison: DuckDB parquet timestamps are UTC-naive.
    "spark.sql.session.timeZone": "UTC",
    # Arrow batches for pandas_udf / applyInPandas / createDataFrame(pandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ...and for Python UDTFs: unset, every UDTF evaluates row-at-a-time
    # through pickle (BatchEvalPythonUDTF — the r16 registry UDF scan's
    # only two hits).  Arrow-batched UDTF eval is the same semantics over
    # columnar transfer; with it on, the registry carries ZERO
    # row-at-a-time Python nodes (standing invariant in plan_audit).
    "spark.sql.execution.pythonUDTF.arrow.enabled": "true",
    # ANSI off keeps permissive casts (reference semantics are permissive:
    # everything maps through a lossy 5-type system, SURVEY.md §1).
    "spark.sql.ansi.enabled": "false",
    # ...but size/cardinality of NULL must be NULL, not the legacy -1: with
    # ANSI off Spark defaults to sizeOfNull=-1, which silently turns every
    # size(tokens-of-null-text) into -1 where standard SQL (and DuckDB)
    # propagates NULL — the null-tier hostile sweep flagged nine queries on
    # exactly this.  SQL-standard null propagation, one engine-level switch.
    "spark.sql.legacy.sizeOfNull": "false",
    # Python Data Source filter pushdown is an ENGINE-LEVEL default, not an
    # ad-hoc per-read set (ADVICE r5 item 2 flagged the conf leak): the flag
    # is consulted at ACTION time by the data-source read planner, and a
    # reader that implements pushFilters() FAILS outright
    # (DATA_SOURCE_PUSHDOWN_DISABLED) if it is false then — so a try/finally
    # restore around load() breaks every lazy DataFrame the source returned
    # (pinned by test_pysource_pushdown_conf_is_action_time).  Declaring it
    # here makes the behavior uniform for every Python source in the session
    # instead of a surprise left behind by whichever read ran first.
    "spark.sql.python.filterPushdown.enabled": "true",
    # Generated-class cache, one LRU per JVM (Spark default 100 entries).
    # A warm re-run of a query re-uses its classes only if they are still
    # cached.  Measured with CodegenMetrics (local[4]): one pass of the
    # perfbench `batch` workload compiles 189 distinct classes (about 200
    # counting AQE plan variants), so at 100 entries every warm pass
    # recompiled ~183 of them at ~10 ms each; running all 375 registry
    # queries once at sf0.001 compiles about 4,400.  1000 holds the batch set
    # five times over.  The cache only grows with classes actually
    # generated (about 36 KB of heap plus metaspace each, measured after
    # GC), so a small job pays nothing for the headroom.  Static
    # conf: it takes effect only in sessions get_spark builds (and only
    # if set before the JVM's first compile); configure_existing skips it.
    "spark.sql.codegen.cache.maxEntries": "1000",
    # Python worker daemon: pyspark.daemon plus a stat-checked
    # zipimporter.invalidate_caches (pyworker.py).  Every Python task starts
    # with importlib.invalidate_caches() (worker_util.setup_spark_files), and
    # before CPython 3.13 each of the worker's 16 zipimporters answers by
    # re-reading its whole archive directory: pyspark.zip, py4j and the
    # 5,359-entry spark-core jar that PythonUtils.sparkPythonPath puts on the
    # worker path.  Timed inside a warm task on Python 3.11 that is
    # 0.17-0.23 s of every Python crossing.  A warm identity mapInPandas over
    # `documents` (500 rows, local[4]) took 0.53-0.56 s with Spark's daemon
    # and 0.30-0.32 s with this one; the scan without Python takes 0.19 s.
    # CPython 3.13's zipimport made the call lazy (it only pops the archive
    # from _zip_directory_cache); there the module is plain pyspark.daemon.
    # Static conf, read when the SparkContext starts: configure_existing
    # skips it, so a session built elsewhere keeps Spark's daemon.
    "spark.python.daemon.module": "gcp_cloudsql_to_bigquery_spark.pyworker",
    # Split floor for file scans: under Spark's 4 MiB default a file of up
    # to about 8 MB scans as ONE task, so a single-file CSV export of a few
    # MB loaded on one core out of four.  A 1 MiB text split carries about
    # 80 ms of work (clean, parse and parquet write ran at about 76 ms/MB
    # in one task), so lineitem's 3.7 MB export now spreads over all four
    # cores (its perfbench load went 413 -> 305 ms, local[4] on a 4-CPU
    # Xeon VM).  A parquet file of 1 MiB or less still scans as one split:
    # its row group cannot be split, so more splits would be empty tasks.
    # A floor of 0 did exactly that to the catalog's single-row-group
    # parquet files, empty Python tasks included: the perfbench batch pass
    # took 8-15 % longer (4 of 4 pairs).
    "spark.sql.files.openCostInBytes": str(1024 * 1024),
    # progress bars interleave with stdout in non-interactive runs
    "spark.ui.showConsoleProgress": "false",
}


# Spark binds each Python-channel socket at <dir>/.<uuid4>.sock, and an
# AF_UNIX path holds at most 107 bytes; Spark itself refuses a socket dir
# longer than 61 characters (the `spark.python.unix.domain.socket.dir`
# check in org.apache.spark.internal.config.Python: "The directory path
# should be lower than 61"), and then fails every query of the session
_SOCKET_DIR_MAX_LEN = min(61, 107 - len("/.") - 36 - len(".sock"))


def python_socket_dir() -> str:
    """The private (0700) directory for the Python-channel sockets of local
    sessions: this process's temp home (``tmputil.home``), under ``/tmp``
    when the one under the temp root is too long for a socket dir."""
    d = home()
    return d if len(os.fsencode(d)) <= _SOCKET_DIR_MAX_LEN else home(_SHORT_ROOT)


def _default_driver_memory() -> str:
    """16g, or half of ``MemTotal`` if that is less."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    half_mib = int(line.split()[1]) // 2048
                    return f"{half_mib}m" if half_mib < 16 * 1024 else "16g"
    except OSError:
        pass
    return "16g"


def _session_conf(
    master: str | None,
    shuffle_partitions: int | None,
    extra_conf: dict[str, str] | None,
) -> dict[str, str]:
    """Every conf :func:`get_spark` sets on its builder; ``extra_conf``
    overrides the defaults."""
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    conf = {"spark.sql.shuffle.partitions": str(shuffle_partitions)}
    # Size the single local JVM like a real executor.  Unset, pyspark's
    # gateway launches the driver with a 1 GiB heap — measured in r16:
    # with local[32] every concurrent task gets ~17 MB of execution
    # memory, the dedup/pack hash stages spill or OOM outright, and the
    # sf0.1 curation pipeline ran 2.7x slower than the same plan with a
    # right-sized heap (53.9 s -> 19.9 s).  On a cluster this knob is the
    # deploy's executor sizing and this default is inert (spark-submit /
    # cluster managers set driver+executor memory explicitly; a builder
    # conf cannot retro-size an already-running JVM).  Max-heap only —
    # the JVM commits pages as needed, so small tests stay small.
    # Capped at half the host's RAM: concurrent sessions on a 16 GB box
    # (tier-1 tests, plan_audit, selfcheck) each claiming a 16g heap lost
    # their JVMs mid-run.
    conf["spark.driver.memory"] = os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM", _default_driver_memory()
    )
    conf.update(DEFAULT_CONFS)
    conf.update(extra_conf or {})
    worker_path = (extra_conf or {}).get("spark.executorEnv.PYTHONPATH")
    conf["spark.executorEnv.PYTHONPATH"] = (
        f"{worker_path}{os.pathsep}{_PACKAGE_ROOT}" if worker_path else _PACKAGE_ROOT
    )
    # A local master's JVM<->Python channels run over Unix sockets instead
    # of loopback TCP: the worker daemon and its workers, the Arrow collect
    # and createDataFrame servers, the accumulator server.  Over TCP every
    # small Python task stalled ~40 ms on the JVM's writes (the delayed-ACK
    # timer): a warm identity mapInPandas over 500 rows (local[4]) spent
    # 41-45 ms in the worker's Arrow-in -> function -> Arrow-out phase,
    # 3.3-4.2 ms over a Unix socket; TCP_NODELAY on the Python side left it
    # at 40-42 ms.  This mode drops Spark's per-app secret and relies on
    # file permissions, so the sockets go in a directory only this user can
    # enter (python_socket_dir).  Other masters keep loopback TCP until
    # measured there: each executor would bind in its own java.io.tmpdir,
    # which this process can neither see nor length-check (a YARN
    # container's tmp dir alone can come near the 107-byte AF_UNIX limit),
    # and a driver-local directory does not exist on executor hosts.  Static
    # confs that configure_existing never sets: a session built elsewhere
    # keeps TCP.
    if master is not None and master.startswith("local"):
        conf.setdefault("spark.python.unix.domain.socket.enabled", "true")
        if "spark.python.unix.domain.socket.dir" not in conf:
            conf["spark.python.unix.domain.socket.dir"] = python_socket_dir()
    return conf


def get_spark(
    app_name: str = "gcp_cloudsql_to_bigquery_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master=None`` respects an externally-provided master (cluster deploys,
    or the driver's own session); tests/bench pass ``local[N]`` explicitly.
    ``shuffle_partitions`` defaults to ``SPARK_GRAFT_CPUS`` (or 32) locally —
    on a real cluster leave it unset and let AQE coalesce from a high initial
    value instead.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    for k, v in _session_conf(master, shuffle_partitions, extra_conf).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def configure_existing(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable defaults to a session we didn't build.

    The driver hands ``queries()`` callables an already-built session; session
    timezone and AQE flags are runtime-settable, so pin them here for oracle
    parity and plan quality.
    """
    for k, v in DEFAULT_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a running session — keep going
    return spark
