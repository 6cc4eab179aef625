"""The workloads: their operations and how each output is checked.

An operation is built fresh every time it runs (a new DataFrame, so a new
QueryExecution) and goes through up to three timed phases:

- ``build``: the engine's Python code that assembles the plan (for the
  streaming operations this includes draining the stream);
- ``plan``: Catalyst analysis and physical planning (query operations);
- ``run``: the action — ``toPandas`` for queries, the CSV write for
  exports, the warehouse write for loads.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Callable

SQL_BATCH = (
    "q1_pricing_summary",
    "join_star_q3",
    "join_q5_region_revenue",
    "join_asof",
    "agg_rollup",
    "agg_count_distinct",
    "window_running_sum",
    "topk_per_group",
    "dedup_exact",
    "sessionize_batch",
    "profile_table",
)
PY_KERNELS = (
    "multimodal_resize_ppm",
    "multimodal_decode_ppm",
    "multimodal_audio_spectral",
    "multimodal_image_histogram",
    "text_quality_score",
    "text_bpe_tokens",
    "dedup_embedding_cosine",
    "ann_bruteforce_topk",
)
ETL_STREAMS = ("stream_elt_file_arrival",)
ETL_EXPORTS = ("lineitem", "orders", "customer", "part")

WORKLOADS = ("batch", "etl_ingest")


@dataclass
class Ctx:
    spark: object
    sf_dir: str
    etl: dict  # gen.write_etl_exports output
    out_dir: str  # per-operation outputs, emptied after each operation


@dataclass
class Op:
    name: str
    kind: str  # "query" | "load" | "export"
    build: Callable[[Ctx], object]
    run: Callable[[Ctx, object], object]


def _query(name: str) -> Op:
    from gcp_cloudsql_to_bigquery_spark import workload

    fn = workload.queries()[name]
    return Op(name, "query", lambda ctx: fn(ctx.spark, ctx.sf_dir), lambda ctx, df: df.toPandas())


def _load(table: str) -> Op:
    """``load_table`` of a raw export with the row-count check riding the
    warehouse write as an observation (one pass over the file)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from gcp_cloudsql_to_bigquery_spark.ingest.pipeline import load_table, warehouse_write

    def build(ctx):
        e = ctx.etl[table]
        df = load_table(ctx.spark, e["data_path"], e["schema_path"])
        aggs = [F.count(F.lit(1)).alias("n_rows")]
        for f in df.schema.fields:
            aggs.append(F.count(F.when(F.col(f.name).isNull(), 1)).alias(f"nulls_{f.name}"))
            if isinstance(f.dataType, (T.LongType, T.DoubleType)):
                aggs.append(F.sum(F.col(f.name).cast("double")).alias(f"sum_{f.name}"))
            elif isinstance(f.dataType, T.StringType):
                aggs.append(F.sum(F.length(f.name)).alias(f"len_{f.name}"))
        obs = Observation(f"load_{table}")
        return df.observe(obs, *aggs), obs

    def run(ctx, built):
        df, obs = built
        warehouse_write(df, f"pb_{table}")
        return obs.get

    return Op(f"load_{table}", "load", build, run)


def _export(table: str) -> Op:
    from gcp_cloudsql_to_bigquery_spark.catalog import load
    from gcp_cloudsql_to_bigquery_spark.ingest.pipeline import export_table

    return Op(
        f"export_{table}",
        "export",
        lambda ctx: load(ctx.spark, ctx.sf_dir, table),
        lambda ctx, df: export_table(df, ctx.out_dir, table, export_date="bench"),
    )


def operations(workload: str) -> list[Op]:
    if workload == "batch":
        return [_query(n) for n in SQL_BATCH + PY_KERNELS]
    if workload == "etl_ingest":
        from gen import ETL_TABLES

        return (
            [_load(t) for t in ETL_TABLES]
            + [_export(t) for t in ETL_EXPORTS]
            + [_query(n) for n in ETL_STREAMS]
        )
    raise KeyError(f"unknown workload {workload!r}; choose from {WORKLOADS}")


def export_lines_and_bytes(data_path: str) -> tuple[int, int]:
    lines = size = 0
    for name in os.listdir(data_path):
        if name.startswith("part-"):
            p = os.path.join(data_path, name)
            size += os.path.getsize(p)
            with open(p, "rb") as fh:
                lines += sum(1 for _ in fh)
    return lines, size


def clear_outputs(ctx: Ctx, op: Op) -> None:
    """Delete what an operation wrote: exports under ``out_dir``, the
    warehouse table of a load."""
    if op.kind == "load":
        ctx.spark.sql(f"DROP TABLE IF EXISTS pb_{op.name[len('load_'):]}")
    for name in os.listdir(ctx.out_dir):
        shutil.rmtree(os.path.join(ctx.out_dir, name), ignore_errors=True)
