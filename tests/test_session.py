"""Engine session defaults that a measured cost depends on."""

# Spark's own default for spark.sql.codegen.cache.maxEntries
_SPARK_DEFAULT_CLASS_CACHE = 100


def test_warm_reexecution_compiles_no_generated_classes(spark):
    """Spark keeps generated classes in one JVM-wide LRU cache.  A working
    set larger than Spark's 100-entry default is evicted before the next
    execution needs it, so every warm re-run recompiles every class
    (about 10 ms each).  ``session.DEFAULT_CONFS`` sizes the cache above
    the engine's working set.  Here, more than 100 distinct projections
    run twice and the second round must compile nothing.  Calling
    ``executedPlan().execute()`` on these shuffle-free plans compiles each
    whole-stage class without running a job."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    n = _SPARK_DEFAULT_CLASS_CACHE + 50

    def execute_all() -> int:
        before = compiles.getCount()
        for k in range(n):
            # the literal is inlined into the generated code, so each
            # projection is its own class; a fresh DataFrame per round is a
            # fresh QueryExecution, as in a re-triggered job
            df = spark.range(4).selectExpr(f"id * {k} + 7919 AS x")
            df._jdf.queryExecution().executedPlan().execute()
        return compiles.getCount() - before

    first = execute_all()
    assert first > _SPARK_DEFAULT_CLASS_CACHE  # the set exceeds Spark's default
    assert execute_all() == 0


def _in_one_task(spark, kernel) -> list:
    """Run ``kernel()`` inside one Python task and return its row."""
    import pandas as pd

    def part(batches):
        for _ in batches:
            pass
        yield pd.DataFrame({"v": [repr(kernel())]})

    return [r.v for r in spark.range(1).coalesce(1).mapInPandas(part, "v string").collect()]


def test_python_task_rereads_no_unchanged_zip_archive(spark):
    """Every Python task starts with ``importlib.invalidate_caches()``.
    Before CPython 3.13 each zipimporter answers that by re-reading its
    archive's central directory; a Spark worker holds 16 (pyspark.zip,
    py4j, the spark-core jar), about 0.2 s per task.  The engine daemon
    (``pyworker.py``) re-reads an archive only when its stat changed, so a
    warm task reads none."""

    def count_reads() -> int:
        import importlib
        import zipimport

        read = zipimport._read_directory
        n = [0]

        def counting(path):
            n[0] += 1
            return read(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        return n[0]

    _in_one_task(spark, lambda: None)  # warm the worker
    assert _in_one_task(spark, count_reads) == ["0"]


def test_rewritten_zip_is_reread_on_invalidate(spark):
    """The invalidation contract still holds: a zip rewritten in place
    (same path and inode, new content) is re-read by
    ``importlib.invalidate_caches()``, so its new module imports."""

    def rewrite_and_import() -> int:
        import importlib
        import os
        import shutil
        import sys
        import tempfile
        import uuid
        import zipfile

        a, b = (f"zmod_{uuid.uuid4().hex}" for _ in range(2))
        root = tempfile.mkdtemp()
        path = os.path.join(root, "mods.zip")
        with zipfile.ZipFile(path, "w") as z:
            z.writestr(f"{a}.py", "X = 1\n")
        sys.path.insert(0, path)
        try:
            ino = os.stat(path).st_ino
            importlib.import_module(a)
            with zipfile.ZipFile(path, "w") as z:  # truncates the same file
                z.writestr(f"{a}.py", "X = 1\n")
                z.writestr(f"{b}.py", "X = 2\n")
            assert os.stat(path).st_ino == ino
            importlib.invalidate_caches()
            return importlib.import_module(b).X
        finally:
            sys.path.remove(path)
            sys.path_importer_cache.pop(path, None)
            sys.modules.pop(a, None)
            sys.modules.pop(b, None)
            shutil.rmtree(root)

    assert _in_one_task(spark, rewrite_and_import) == ["2"]


def test_python_tasks_run_from_a_foreign_working_directory(tmp_path):
    """The daemon module is imported by every Python worker, so a session
    built by ``get_spark`` must run Python tasks whatever the working
    directory and with no PYTHONPATH."""
    import os
    import subprocess
    import sys

    import gcp_cloudsql_to_bigquery_spark as pkg

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__)))
    script = (
        f"import sys; sys.path.insert(0, {repo_root!r})\n"
        "from gcp_cloudsql_to_bigquery_spark.session import get_spark\n"
        "spark = get_spark(master='local[2]', shuffle_partitions=2,\n"
        "                  extra_conf={'spark.driver.memory': '1g'})\n"
        "def double(batches):\n"
        "    for b in batches:\n"
        "        yield b * 2\n"
        "print(sorted(r.id for r in spark.range(3).mapInPandas(double, 'id long').collect()))\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().splitlines()[-1] == "[0, 2, 4]"
