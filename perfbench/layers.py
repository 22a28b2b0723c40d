"""Per-layer probes of the traced pass, timed from outside the engine.

Every traced run measures every layer, each on the staged input of the
workload that exercises it, so one traced run of any workload reports the
full per-layer set:

- ``pipeline``: the parse→enrich→route→aggregate chain split into cumulative
  prefixes, each materialised with the ``noop`` sink over the same rows;
  a layer's self time is its prefix's time minus the previous prefix's.
  The chain is built here from the stage functions; its aggregates must
  equal the traced iteration's, so a drift from ``full_pipeline`` fails the
  run's check. ``plans.pipeline.aggregate_stage_s`` is a signed difference:
  the aggregate prefix writes ~120 rows to the sink where the route prefix
  writes every row, so it reads negative when the aggregate costs less than
  that write.
- ``checkpoint``: one ``CheckpointedRunner.run``, its chunk commits read
  from the checkpoint files' times, and the runner's steps (planning, the
  routed write alone, the committed-only readers).
- ``export``: the scan floor and each exporter's marshal, every output byte
  consumed.

The pipeline and checkpoint probes each include one traced iteration of
their workload, under a job group named after it, so Spark's event log can
be summed per workload. Units of every metric are in ``UNITS``.
"""

from __future__ import annotations

import functools
import os
import shutil
import statistics
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from opentelemetry_collector_contrib_spark.functions.severity import attach_severity
from opentelemetry_collector_contrib_spark.operators.es_exporter import es_bulk_messages
from opentelemetry_collector_contrib_spark.operators.logicmonitor_exporter import lm_log_inputs
from opentelemetry_collector_contrib_spark.operators.logzio_exporter import logzio_lines
from opentelemetry_collector_contrib_spark.operators.loki_exporter import loki_entries
from opentelemetry_collector_contrib_spark.operators.parse import regex_parser, time_parser
from opentelemetry_collector_contrib_spark.operators.router import write_routed
from opentelemetry_collector_contrib_spark.plans.pipeline import (
    aggregate_stage,
    enrich_stage,
    full_pipeline,
    route_stage,
)
from opentelemetry_collector_contrib_spark.sources.render import LINE_PATTERN, render_lines

import eventlog
import host
import workloads
from spans import Tracer, prefix_self_times

# Each prefix is materialised this many times; the fastest counts, which
# keeps a one-off stall out of the prefix differences.
PREFIX_REPS = 2
PREFIXES = (
    "sources.scan_s",
    "sources.render_lines_s",
    "operators.parse.regex_parser_s",
    "operators.parse.time_parser_s",
    "functions.severity.attach_severity_s",
    "plans.pipeline.enrich_stage_s",
    "plans.pipeline.route_stage_s",
    "plans.pipeline.aggregate_stage_s",
)
ROUTES = ("acme", "globex", "default")
# Flat records marshaled by each exporter (marshal runs ~10x slower per row
# than the pipeline).
EXPORT_RECORDS, EXPORT_FILES = 8_000, 4
EXPORTERS = (logzio_lines, lm_log_inputs, es_bulk_messages, loki_entries)


def exporter_module(fn) -> str:
    """``operators.<module>`` of an exporter function."""
    return fn.__module__.split(".", 1)[1]


UNITS = {
    "session.get_spark_s": "s",
    "session.udf_warm_s": "s",
    **dict.fromkeys(PREFIXES, "s"),
    "operators.parse.grok_matched_share": "ratio",
    "plans.pipeline.enrich_miss_rows": "count",
    **{f"operators.router.rows_{r}": "count" for r in ROUTES},
    "plans.pipeline.aggregate_groups": "count",
    "operators.router.write_routed_s": "s",
    "plans.checkpoint.chunk_commit_s_p50": "s",
    "plans.checkpoint.written_bytes_per_row": "B",
    "plans.checkpoint.chunk_over_write_routed": "ratio",
    "plans.checkpoint.jobs_per_chunk": "count",
    "plans.checkpoint.input_passes": "ratio",
    "plans.checkpoint.plan_chunks_s": "s",
    "plans.checkpoint.completed_chunks_s": "s",
    "plans.checkpoint.aggregates_read_s": "s",
    "plans.checkpoint.routed_read_s": "s",
    "export.scan_s": "s",
    **{f"{exporter_module(e)}.{e.__name__}_s": "s" for e in EXPORTERS},
    **{f"{exporter_module(e)}.messages": "count" for e in EXPORTERS},
    **{f"{exporter_module(e)}.bytes": "B" for e in EXPORTERS},
    **{f"spark.{k}": u for k, u in eventlog.METRIC_UNITS.items()},
    "scaling.rows_per_s_1core": "1/s",
    "scaling.efficiency_1_to_N": "ratio",
    "bench.trace_overhead_s": "s",
}


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def workload_group(spark: SparkSession, workload: str) -> str:
    """Tag the following jobs with the workload's job group."""
    group = f"perfbench-{workload}"
    spark.sparkContext.setJobGroup(group, workload)
    return group


def pipeline(spark: SparkSession, tracer: Tracer, pipe: "workloads.PipelineAgg"):
    """One traced pipeline_agg iteration under its own job group, then
    prefix self times and the pipeline's counts over the same input.
    The prefixes mirror ``plans.pipeline.full_pipeline`` (match_once, no
    sampling), whose parse stage is render → grok → time → severity.
    The chain's aggregates are checked against the iteration's.
    Returns (metrics, iteration seconds, check failures)."""
    scan = spark.read.parquet(pipe.input.path)
    lined = render_lines(scan, out="line")
    parsed = regex_parser(lined, LINE_PATTERN, parse_from="line", on_error="send")
    timed = time_parser(parsed, "ts_str", layout="yyyy-MM-dd'T'HH:mm:ssX", parse_to="ts")
    severity = attach_severity(timed, "level").drop("line")
    enriched = enrich_stage(severity, spark)
    routed = route_stage(enriched)
    aggs = aggregate_stage(routed)
    frames = (scan, lined, parsed, timed, severity, enriched, routed, aggs)

    workload_group(spark, pipe.name)
    with tracer.span(pipe.name) as run_span:
        groups = pipe.iterate(spark)
    spark.sparkContext.setJobGroup("perfbench-probe", "layer probes")
    errs = pipe.check(groups)

    cumulative = []
    for name, df in zip(PREFIXES, frames):
        best = float("inf")
        for _ in range(PREFIX_REPS):
            with tracer.span(name) as s:
                noop(df)
            best = min(best, s.duration)
        cumulative.append((name, best))
    out = prefix_self_times(cumulative)
    if workloads.agg_rows(aggs) != groups:
        errs.append("pipeline_agg: the prefix chain's aggregates differ from full_pipeline's")

    with tracer.span("plans.pipeline.counts"):
        rows, matched, misses = enriched.agg(
            F.count(F.lit(1)), F.count("level"), F.count_if(F.col("team").isNull())
        ).first()
    out["operators.parse.grok_matched_share"] = matched / rows
    out["plans.pipeline.enrich_miss_rows"] = misses
    for r in ROUTES:
        out[f"operators.router.rows_{r}"] = sum(g[3] for g in groups if g[0] == r)
    out["plans.pipeline.aggregate_groups"] = len(groups)
    return out, run_span.duration, errs


def checkpoint(spark: SparkSession, tracer: Tracer, job: "workloads.CheckpointedJob"):
    """One traced checkpointed_job iteration under its own job group, its
    chunk commits read from the checkpoint files' times, then the runner's
    other steps timed alone. Returns (metrics, iteration seconds, check
    failures)."""
    routed_dir = os.path.join(job.out_root, "probe-routed")
    try:
        with tracer.span("plans.checkpoint.plan_chunks_s") as s:
            chunks = job.runner("").plan_chunks(spark, job.input.path)
        out = {"plans.checkpoint.plan_chunks_s": s.duration}

        group = workload_group(spark, job.name)
        start = time.time()
        with tracer.span(job.name) as run_span:
            runner = job.iterate(spark)
        spark.sparkContext.setJobGroup("perfbench-probe", "layer probes")
        jobs = len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))

        ckpt = os.path.join(job.out, "checkpoint")
        commits = sorted(
            os.path.getmtime(os.path.join(ckpt, f))
            for f in os.listdir(ckpt)
            if f.endswith(".parquet")
        )
        gaps = [b - a for a, b in zip([start] + commits, commits)]
        out["plans.checkpoint.chunk_commit_s_p50"] = statistics.median(gaps)
        out["plans.checkpoint.written_bytes_per_row"] = host.dir_bytes(job.out) / job.rows
        out["plans.checkpoint.jobs_per_chunk"] = jobs / len(chunks)

        with tracer.span("plans.checkpoint.completed_chunks_s") as s:
            runner.completed_chunks(spark)
        out["plans.checkpoint.completed_chunks_s"] = s.duration
        with tracer.span("plans.checkpoint.aggregates_read_s") as s:
            workloads.agg_rows(runner.aggregates(spark))
        out["plans.checkpoint.aggregates_read_s"] = s.duration
        with tracer.span("plans.checkpoint.routed_read_s") as s:
            noop(runner.routed(spark))
        out["plans.checkpoint.routed_read_s"] = s.duration
        errs = job.check(runner)

        # the routed write alone, on the first chunk: the floor of a chunk
        routed = full_pipeline(spark.read.parquet(*chunks[0][1]), spark)[0]
        with tracer.span("operators.router.write_routed_s") as s:
            write_routed(routed, routed_dir)
        out["operators.router.write_routed_s"] = s.duration
        out["plans.checkpoint.chunk_over_write_routed"] = (
            out["plans.checkpoint.chunk_commit_s_p50"] / s.duration
        )
    finally:
        job.cleanup()
        shutil.rmtree(routed_dir, ignore_errors=True)
    return out, run_span.duration, errs


def value_bytes(df: DataFrame) -> F.Column:
    """Bytes of every output value in a row: strings and binaries by length,
    maps by the lengths of their keys and values, other scalars as text.
    Summing this consumes every column, so Catalyst cannot prune a UDF whose
    output a bare count() would never read."""
    parts = []
    for f in df.schema.fields:
        c = F.col(f.name)
        if isinstance(f.dataType, (T.StringType, T.BinaryType)):
            parts.append(F.coalesce(F.length(c), F.lit(0)))
        elif isinstance(f.dataType, T.MapType):
            parts.append(
                F.aggregate(
                    F.map_entries(F.coalesce(c, F.create_map().cast(f.dataType))),
                    F.lit(0),
                    lambda acc, e: acc + F.length(e.key) + F.coalesce(F.length(e.value), F.lit(0)),
                )
            )
        else:
            parts.append(F.coalesce(F.length(c.cast("string")), F.lit(0)))
    return functools.reduce(lambda a, b: a + b, parts).cast("long")


def export(spark: SparkSession, tracer: Tracer, path: str, records: int) -> tuple[dict, list[str]]:
    """Scan floor, then each exporter's marshal with every output byte
    consumed; checks one message per record."""
    with tracer.span("export.scan_s") as s:
        noop(spark.read.parquet(path))
    out, fails = {"export.scan_s": s.duration}, []
    for fn in EXPORTERS:
        module = exporter_module(fn)
        with tracer.span(f"{module}.{fn.__name__}_s") as s:
            df = fn(spark.read.parquet(path))
            messages, nbytes = df.agg(F.count(F.lit(1)), F.sum(value_bytes(df))).first()
        out[f"{module}.{fn.__name__}_s"] = s.duration
        out[f"{module}.messages"] = messages
        out[f"{module}.bytes"] = nbytes
        if messages != records:
            fails.append(f"{fn.__name__} emitted {messages} messages for {records} records")
    return out, fails
