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
