"""Structured Streaming variants of the log pipeline.

The reference is a continuous-stream system (receivers tail files/sockets,
processors run per batch, exporters flush with queues/retries). Streaming
restatement:

- source: ``readStream`` over a file directory (filelog receiver analog —
  new files are discovered per trigger; ``maxFilesPerTrigger`` plays the
  poll-batch size, checkpointLocation plays the offset store,
  `pkg/stanza/fileconsumer/file.go:83-143`)
- the SAME batch transformations (parse/enrich/route) apply unchanged —
  DataFrame code is trigger-agnostic
- sink: Spark's parquet file sink, partitioned by route, fans each
  micro-batch out to per-route directories (routingconnector
  flush-per-consumer, `connector/routingconnector/logs.go:99-102`). The
  sink commits each batch in its ``_spark_metadata`` log and skips a batch
  it already committed, so a batch replayed after a crash between the
  write and the checkpoint's commit adds no rows: exactly-once output
- windowed counts: event-time tumbling window + watermark — the count
  connector under late data (the reference flushes on processing-time
  timers; watermarks are the event-time upgrade, documented in SURVEY §2.8)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..datamodel import TOKENS_SCHEMA
from ..plans.pipeline import enrich_stage, parse_stage, route_stage


def stream_tokens_source(
    spark: SparkSession, path: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """File-source stream of the tokens table (filelog tail analog)."""
    return (
        spark.readStream.schema(TOKENS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def streaming_pipeline(
    stream: DataFrame,
    spark: SparkSession,
    match_once: bool = True,
    lut: list[tuple] | None = None,
    routes=None,
) -> DataFrame:
    """parse → enrich → route, identical code path to batch; ``lut`` is
    ``enrich_stage``'s lookup rows."""
    parsed = parse_stage(stream)
    enriched = enrich_stage(parsed, spark, lut=lut)
    return route_stage(enriched, match_once=match_once, routes=routes)


def route_sink(
    routed: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
) -> DataStreamWriter:
    """Parquet file sink under ``{out_dir}/data``, partitioned by route:
    per-route directories accumulate across batches. Exactly-once: readers
    of ``data/`` see only the files of batches committed in its
    ``_spark_metadata`` log, and a replayed batch is skipped."""
    return (
        routed.writeStream.format("parquet")
        .partitionBy("route")
        .option("path", f"{out_dir}/data")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def windowed_counts(
    routed: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time tumbling counts per route/severity with late-data bound —
    the streaming count connector."""
    return (
        routed.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "route", "severity_text")
        .agg(
            F.count(F.lit(1)).alias("row_count"),
            F.sum("n_tok").cast("long").alias("token_count"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "route",
            "severity_text",
            "row_count",
            "token_count",
        )
    )


def run_streaming_to_completion(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    match_once: bool = True,
    lut: list[tuple] | None = None,
    routes=None,
) -> None:
    """Drain all currently-available files (availableNow trigger) through the
    full pipeline into per-route sinks; returns when the backlog is empty."""
    stream = stream_tokens_source(spark, input_path)
    routed = streaming_pipeline(stream, spark, match_once=match_once, lut=lut, routes=routes)
    q = route_sink(routed, out_dir, f"{out_dir}/_checkpoint").start()
    q.awaitTermination()


def streaming_dedup(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: drop re-deliveries of the same key within the
    watermark horizon (``dropDuplicatesWithinWatermark``). State is
    bounded by the watermark (keys older than the horizon are evicted), so
    it runs indefinitely at firehose rates. Mirrors the at-least-once
    receiver semantics of the reference (re-delivered log entries collapse
    to one)."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )
