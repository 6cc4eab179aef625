"""Custom Python Data Source (Spark 4 API): the reference's raw MySQL
sentinel-CSV export format as a first-class, partitioned, pushdown-capable
Spark source.

The reference needs three components and two bucket round-trips to make its
exports queryable (``/root/reference/app/cloud-sql-exporter`` writes raw
CSV with the MySQL ``\\N``-style ``"N`` NULL sentinel, ``app/csv-cleaner/
main.py:21-27`` rewrites bytes, ``app/bq-importer/main.py:27-39`` loads).
``ingest/nulls.py`` already collapses that to a read-side concern; this
module goes one step further and makes the RAW export format itself a
registered Spark source: ``spark.read.format("sentinel_csv")`` scans the
staging layout directly — no rewrite pass, no intermediate copy.

Scale shape: ``partitions()`` returns one ``InputPartition`` per export
file, so the scan parallelizes like any file source; ``pushFilters``
accepts numeric comparison filters and applies them inside the Python
worker BEFORE rows cross into the JVM (the custom-source analog of parquet
predicate pushdown — pinned in tests).  The honest 100 TB caveat: a Python
data source pays one Python worker per partition (Arrow-batched), so for
plain CSV at petabyte scale you'd use the JVM reader + ``ingest/nulls.py``;
this API is the escape hatch the reference pattern actually needs —
proprietary formats, internal services, paginated APIs — demonstrated on
the format the reference ships.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

from ..registry import register

# Raw-export schema (the arrival fixture of streaming/elt.py): the
# reference's five-type system — ints are BIGINT, floats DOUBLE, text
# STRING (``app/csv-cleaner/datatype_to_bq.py``).
_EXPORT_SCHEMA = "c_custkey bigint, nation bigint, segment_or_null string, acctbal double"
_FIELDS = (
    ("c_custkey", int),
    ("nation", int),
    ("segment_or_null", str),
    ("acctbal", float),
)

# Sentinel handling matches ingest/nulls.py's CSV-aware mode in the
# NO-EMBEDDED-COMMA regime of the export fixture: a whole field equal to
# ``"N`` is NULL (the reference's byte-level replace corrupts quoted
# payloads — SURVEY.md §7 "hard parts").  Rows whose field count doesn't
# match the schema are rejected, not zip-truncated (see read()).
_SENTINEL = '"N'

_COMPARABLE = {
    EqualTo: lambda v: (lambda x: x == v),
    GreaterThan: lambda v: (lambda x: x is not None and x > v),
    GreaterThanOrEqual: lambda v: (lambda x: x is not None and x >= v),
    LessThan: lambda v: (lambda x: x is not None and x < v),
    LessThanOrEqual: lambda v: (lambda x: x is not None and x <= v),
}


class SentinelCsvReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.path = options["path"]
        self.predicates: list[tuple[int, object]] = []  # (field idx, row-predicate)

    def pushFilters(self, filters):  # noqa: N802 (API name)
        """Accept numeric comparisons on top-level columns; everything else
        stays with Spark.  Accepted filters run in the Python worker before
        rows are handed to the JVM — scan-side pushdown for a custom source."""
        names = [n for n, _ in _FIELDS]
        for f in filters:
            make = _COMPARABLE.get(type(f))
            if make is not None and len(f.attribute) == 1 and f.attribute[0] in names:
                self.predicates.append((names.index(f.attribute[0]), make(f.value)))
            else:
                yield f  # unsupported → Spark evaluates it post-scan

    def partitions(self):
        files = []
        for root, _dirs, names in os.walk(self.path):
            files.extend(
                os.path.join(root, n)
                for n in names
                if (n.endswith(".txt") or n.startswith("part-"))
                and not n.endswith(".tmp")
            )
        # one partition per export file — the scan parallelizes across
        # executors exactly like the built-in file sources
        return [InputPartition(f) for f in sorted(files)]

    def read(self, partition):
        # The export fixture (streaming/elt.write_arrival_files) never emits
        # embedded commas, so a plain split is exact — but a short/long row
        # would silently shift columns, so the width is VALIDATED and a
        # malformed line fails the scan loudly instead of misparsing.
        casts = [c for _, c in _FIELDS]
        with open(partition.value, encoding="utf-8") as fh:
            for lineno, line in enumerate(fh, 1):
                line = line.rstrip("\n")
                if not line:
                    continue
                cells = line.split(",")
                if len(cells) != len(_FIELDS):
                    raise ValueError(
                        f"{partition.value}:{lineno}: expected {len(_FIELDS)} "
                        f"fields, got {len(cells)} (embedded commas are not "
                        "part of the export format)"
                    )
                row = tuple(
                    None if c == _SENTINEL or c == "" else cast(c)
                    for c, cast in zip(cells, casts)
                )
                if all(pred(row[i]) for i, pred in self.predicates):
                    yield row


class SentinelCsvWriter(DataSourceWriter):
    """Write side of the export format: each task streams its partition to
    ``part-<pid>-<uuid>.txt.tmp`` and reports the path; ``commit`` (driver,
    all-tasks-succeeded) renames every temp file into place — the classic
    two-phase task-commit protocol, so a failed/speculative task never
    leaves a half-written file visible to the reader.  NULLs are encoded
    back to the ``\"N`` sentinel, closing the write->read loop on the
    reference's raw format."""

    def __init__(self, options: dict) -> None:
        self.path = options["path"]

    def write(self, iterator) -> "WriterCommitMessage":
        import uuid

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(self.path, f"part-{pid}-{uuid.uuid4().hex}.txt.tmp")
        n = 0
        with open(tmp, "w", encoding="utf-8") as fh:
            for row in iterator:
                cells = [
                    _SENTINEL if row[name] is None else str(row[name])
                    for name, _ in _FIELDS
                ]
                fh.write(",".join(cells) + "\n")
                n += 1
        return SentinelCommitMessage(tmp=tmp, n_rows=n)

    def commit(self, messages) -> None:
        for m in messages:
            os.rename(m.tmp, m.tmp[: -len(".tmp")])

    def abort(self, messages) -> None:
        for m in messages:
            if m is not None and os.path.exists(m.tmp):
                os.remove(m.tmp)


class SentinelCommitMessage(WriterCommitMessage):
    def __init__(self, tmp: str, n_rows: int) -> None:
        self.tmp = tmp
        self.n_rows = n_rows


class SentinelCsvDataSource(DataSource):
    """``spark.read.format("sentinel_csv").option("path", dir)`` over the
    reference's raw export staging layout; ``df.write.format(
    "sentinel_csv")`` produces the same layout via the two-phase-commit
    writer."""

    @classmethod
    def name(cls) -> str:
        return "sentinel_csv"

    def schema(self) -> str:
        return _EXPORT_SCHEMA

    def reader(self, schema) -> SentinelCsvReader:
        return SentinelCsvReader(dict(self.options))

    def writer(self, schema, overwrite: bool) -> SentinelCsvWriter:
        return SentinelCsvWriter(dict(self.options))


def read_sentinel_csv_source(spark: SparkSession, path: str) -> DataFrame:
    """Register (idempotent) and read the custom source with filter
    pushdown enabled.

    ``spark.sql.python.filterPushdown.enabled`` is an engine default set by
    ``session.DEFAULT_CONFS`` (and re-pinned here for externally-built
    sessions): the flag is consulted at ACTION time by the data-source read
    planner, and a reader implementing ``pushFilters`` raises
    DATA_SOURCE_PUSHDOWN_DISABLED if it is false then — so a try/finally
    restore around this call would break the lazy DataFrame it returns
    (empirically pinned by ``test_pysource_pushdown_conf_is_action_time``).
    """
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SentinelCsvDataSource)
    return spark.read.format("sentinel_csv").option("path", path).load()


@register(
    "src_python_datasource",
    oracle="""
    SELECT CAST(c_nationkey AS BIGINT) AS nation,
           count(*) AS n_cust,
           count(CASE WHEN c_mktsegment = 'BUILDING' OR c_mktsegment IS NULL
                      THEN 1 END) AS n_null_segment,
           round(sum(c_acctbal), 2) AS total_bal
    FROM customer
    WHERE c_nationkey < 10
    GROUP BY nation
    """,
    doc="Custom Python Data Source end-to-end: shard customer into 4 raw "
    "MySQL-sentinel CSV exports, scan them through the registered "
    "sentinel_csv source (one InputPartition per file, nation<10 pushed "
    "into the Python worker via pushFilters), aggregate the result.  "
    "Sentinel-encoded NULLs (segment='BUILDING' exported as \"N) come "
    "back as real NULLs, checked against the pre-export ground truth.",
)
def src_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.elt import write_arrival_files

    from ..tmputil import tmp_dir

    # lazy-read tree (the returned DataFrame scans these exports): removed
    # at interpreter exit with the temp home
    watch = os.path.join(tmp_dir("pyds_"), "exports")
    write_arrival_files(spark, sf_dir, watch, n_files=4)
    df = read_sentinel_csv_source(spark, watch).filter(F.col("nation") < 10)
    return df.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.count(F.when(F.col("segment_or_null").isNull(), 1)).alias("n_null_segment"),
        F.round(F.sum("acctbal"), 2).alias("total_bal"),
    )


@register(
    "src_python_datasource_write",
    oracle="""
    SELECT CAST(c_nationkey AS BIGINT) AS nation,
           count(*) AS n_cust,
           count(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 END) AS n_null_segment,
           round(sum(c_acctbal), 2) AS total_bal
    FROM customer
    WHERE c_custkey % 2 = 0
    GROUP BY nation
    """,
    doc="Custom Python Data Source WRITE path (the other half of the "
    "Spark 4 DataSource API): df.write.format('sentinel_csv') encodes "
    "NULLs back to the raw export sentinel through a two-phase task "
    "commit (task -> .tmp file + commit message; driver commit -> "
    "atomic rename), then the registered reader scans the files back "
    "and the round-tripped aggregate is checked against the pre-export "
    "base table.  NULL fixture: segment='MACHINERY' is nulled before "
    "the write, exercising sentinel ENCODING (the reference only ever "
    "decodes).  The commit protocol is what makes a custom sink safe "
    "under task retries/speculation at 100 TB — a failed task's .tmp "
    "never becomes visible.",
)
def src_python_datasource_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load

    from ..tmputil import tmp_dir

    # lazy-read tree (the returned DataFrame scans the round-tripped
    # exports): removed at interpreter exit with the temp home
    out = os.path.join(tmp_dir("pyds_w_"), "exports")
    spark.dataSource.register(SentinelCsvDataSource)
    src = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 2 == 0)
        .select(
            F.col("c_custkey").cast("bigint"),
            F.col("c_nationkey").cast("bigint").alias("nation"),
            F.nullif(F.col("c_mktsegment"), F.lit("MACHINERY")).alias("segment_or_null"),
            F.col("c_acctbal").cast("double").alias("acctbal"),
        )
    )
    src.write.format("sentinel_csv").option("path", out).mode("append").save()
    df = read_sentinel_csv_source(spark, out)
    return df.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.count(F.when(F.col("segment_or_null").isNull(), 1)).alias("n_null_segment"),
        F.round(F.sum("acctbal"), 2).alias("total_bal"),
    )


# --- streaming Python data source -------------------------------------------


class ExportQueueStreamReader(SimpleDataSourceStreamReader):
    """Replayable 'export queue' stream: the reference's work-queue pop loop
    (SURVEY §2A #7) as a Spark streaming SOURCE.  Offsets are custkey block
    indices; read(start) serves exactly one 500-key block per micro-batch
    from the parquet staging area, and an offset at the end of the queue
    returns no rows without advancing — the contract that lets availableNow
    drain and terminate.  Offsets make the stream REPLAYABLE: a restarted
    query re-reads from its checkpointed block, the property the
    reference's Pub/Sub requeue only approximates."""

    _BLOCK = 500

    def __init__(self, options):
        self._path = options["path"]

    def initialOffset(self):
        return {"block": 0}

    def read(self, start):
        import pyarrow.parquet as pq

        block = start["block"]
        lo, hi = block * self._BLOCK, (block + 1) * self._BLOCK
        t = pq.read_table(self._path, columns=["c_custkey", "c_acctbal"])
        # NULL-key rows have no queue position — blocks ARE custkey ranges
        # — so they are not servable (nullkeys-tier find: max() over a
        # None crashed latestOffset; the oracle states the same
        # c_custkey IS NOT NULL).  Guard the empty queue too.
        pairs = [
            (k, b)
            for k, b in zip(
                t.column("c_custkey").to_pylist(), t.column("c_acctbal").to_pylist()
            )
            if k is not None
        ]
        if not pairs or lo > max(k for k, _ in pairs):
            return iter([]), start  # queue drained: do not advance
        # NULL balance rides through as NULL cents (the oracle's
        # floor(NULL*...) — an unguarded None*100 crashed latestOffset's
        # prefetch; null-tier find)
        rows = [
            (
                k,
                None if b is None else int(__import__("math").floor(b * 100 + 0.5)),
                block,
            )
            for k, b in pairs
            if lo <= k < hi
        ]
        return iter(rows), {"block": block + 1}

    def readBetweenOffsets(self, start, end):
        rows, _ = self.read(start)
        return rows

    def commit(self, end):
        pass  # blocks are immutable parquet; nothing to acknowledge


class ExportQueueDataSource(DataSource):
    @classmethod
    def name(cls):
        return "export_queue"

    def schema(self):
        return "k bigint, cents bigint, block int"

    def simpleStreamReader(self, schema):
        return ExportQueueStreamReader(self.options)


def _stop_between_triggers(query, deadline: float) -> None:
    """Stop a streaming query once no trigger is running, or at ``deadline``.
    While a trigger runs, Spark's Python source runner can still be writing
    to its socket, and a stop then breaks its pipe: a ``BrokenPipeError``
    chain reaches the driver's stderr."""
    import time

    while query.status["isTriggerActive"] and time.time() < deadline:
        time.sleep(0.005)
    query.stop()
    query.awaitTermination()


@register(
    "src_python_datasource_stream",
    oracle="""
    SELECT c_custkey AS k,
           CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents,
           CAST(c_custkey // 500 AS INT) AS block
    FROM customer
    WHERE c_custkey IS NOT NULL
    """,
    doc="STREAMING Python Data Source (Spark 4 SimpleDataSourceStreamReader)"
    " — the reference's export work-queue as a real streaming source: "
    "offsets are 500-key block indices, each micro-batch pops exactly one "
    "block from the parquet staging area, a drained queue stops advancing "
    "the offset (so availableNow terminates), and checkpointed offsets "
    "make restart resume from the right block — the requeue-on-failure "
    "semantics of SURVEY §2A #7/#8 expressed in the engine's own offset "
    "contract instead of Pub/Sub redelivery.  Completes the custom-source "
    "family: batch read with pushFilters (src_python_datasource), "
    "two-phase-commit write (src_python_datasource_write), and now the "
    "streaming third.  The oracle checks every row landed exactly once "
    "with its block lineage.  Scale: the simple reader serves from the "
    "driver (right for a control-plane queue); a data-plane source "
    "implements partitions() per block for executor-side reads.",
)
def src_python_datasource_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    try:
        spark.dataSource.register(ExportQueueDataSource)
    except Exception:
        pass  # already registered in this session
    stream = (
        spark.readStream.format("export_queue")
        .option("path", os.path.join(sf_dir, "customer.parquet"))
        .load()
    )
    # availableNow drains only the offsets prefetched at start (one block
    # for a simple reader), so drive the queue with a tight processingTime
    # trigger and stop once two consecutive micro-batches pop nothing —
    # the empty-batch idle detection a real queue consumer uses
    import shutil
    import time

    from ..streaming import events as _ev
    from ..tmputil import tmp_dir

    _ev._MEMSINK_SEQ += 1
    name = f"pyds_stream_{_ev._MEMSINK_SEQ}"
    ckpt = tmp_dir("ckpt_pyds_", _ev._CKPT_DIR)
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    deadline = time.time() + 120
    try:
        idle = 0
        while idle < 3 and time.time() < deadline:
            time.sleep(0.3)
            prog = q.recentProgress
            if prog and prog[-1]["numInputRows"] == 0:
                idle += 1
            elif prog:
                idle = 0
    finally:
        _stop_between_triggers(q, deadline)
    shutil.rmtree(ckpt, ignore_errors=True)  # memory sink holds the rows
    return spark.table(name)
