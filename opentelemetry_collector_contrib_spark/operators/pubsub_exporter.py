"""Google Cloud Pub/Sub exporter parity — log batches → Pub/Sub
messages with CloudEvents attributes and watermark-derived ce-time.

Reference behavior (`exporter/googlecloudpubsubexporter/`):

- one message per consumed batch: ``data`` = the whole batch's
  otlp_proto bytes, optionally gzip'd with ``content-encoding: gzip``
  (`exporter.go:112-156`); attributes ``ce-specversion: 1.0``,
  ``ce-id`` (uuid), ``ce-source`` (config), ``ce-time`` (watermark,
  RFC 3339 text), ``ce-type: org.opentelemetry.otlp.logs.v1``,
  ``content-type: application/protobuf``;
- watermark (`watermark.go`): behavior ``current`` = the processing
  time; ``earliest`` = the minimum record timestamp across the batch,
  floored at (processingTime − allowedDrift) — the traversal's early
  exit on hitting the floor doesn't change the result, which is
  ``max(floor, min(processingTime, min(ts)))``.

Divergences (documented): ``ce-id`` is pinned to the md5 hex of the
payload bytes (uuid.NewRandom has no deterministic meaning in a
rerun-stable pipeline); processing time is caller-supplied.

Spark shape: the watermark is a JVM-side aggregate (``F.min`` with
clamps — no Python); message assembly groups per ``batch_key`` in one
``applyInPandas`` exchange (the reference publishes one message per
consumer-call batch, so batch keys are the parallel unit at 100 TB).
"""

from __future__ import annotations

import gzip as _gzip
import hashlib

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..functions.gofmt import go_time_rfc3339nano
from ..functions.otlp_proto import encode_logs

__all__ = ["ce_time_attr", "logs_watermark", "pubsub_messages"]


def logs_watermark(
    df: DataFrame,
    behavior: str = "current",
    processing_time_ns: int = 0,
    allowed_drift_ns: int = 0,
    batch_key_col: str = "batch_key",
) -> DataFrame:
    """Per-batch watermark ns (`watermark.go:33-60`): ``current`` →
    processing time; ``earliest`` → min record ts, floored at
    processing − drift, capped at processing. Pure JVM aggregate."""
    if behavior == "current":
        return df.select(F.col(batch_key_col).alias("batch_key")).distinct() \
            .withColumn("watermark_ns", F.lit(processing_time_ns))
    if behavior != "earliest":
        raise ValueError("behavior must be current or earliest")
    floor = processing_time_ns - allowed_drift_ns
    return (
        df.groupBy(F.col(batch_key_col).alias("batch_key"))
        .agg(F.min("time_unix_nano").alias("_min_ts"))
        .select(
            "batch_key",
            F.greatest(
                F.lit(floor),
                F.least(F.lit(processing_time_ns), F.col("_min_ts")),
            ).cast("long").alias("watermark_ns"),
        )
    )


_MSG_SCHEMA = T.StructType(
    [
        T.StructField("batch_key", T.StringType()),
        T.StructField("ce_specversion", T.StringType()),
        T.StructField("ce_id", T.StringType()),
        T.StructField("ce_source", T.StringType()),
        T.StructField("ce_type", T.StringType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("content_encoding", T.StringType()),
        T.StructField("data", T.BinaryType()),
    ]
)


def pubsub_messages(
    df: DataFrame,
    ce_source: str,
    compression: str = "none",
    batch_key_col: str = "batch_key",
) -> DataFrame:
    """Flat log-record rows → one Pub/Sub message per batch_key
    (attributes + payload). Join with ``logs_watermark`` for the
    ce-time attribute (`publishMessage`, `exporter.go:112-156`)."""
    if compression not in ("none", "gzip"):
        raise ValueError("compression must be none or gzip")
    use_gzip = compression == "gzip"

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        recs = []
        for row in pdf.itertuples(index=False):
            d = dict(zip(pdf.columns, row))
            recs.append(
                {
                    "time_unix_nano": int(d.get("time_unix_nano") or 0),
                    "severity_number": int(d.get("severity_number") or 0),
                    "severity_text": d.get("severity_text") or "",
                    "body": d.get("body"),
                    "attributes": dict(d.get("attributes") or {}),
                    "resource": dict(d.get("resource") or {}),
                    "scope_name": d.get("scope_name") or "",
                    "trace_id": d.get("trace_id") or "",
                    "span_id": d.get("span_id") or "",
                }
            )
        recs.sort(
            key=lambda r: (
                r["trace_id"], r["span_id"],
                r["time_unix_nano"], str(r["body"]),
            )
        )
        data = encode_logs(recs)
        encoding = ""
        if use_gzip:
            data = _gzip.compress(data, mtime=0)
            encoding = "gzip"
        return pd.DataFrame(
            [
                {
                    "batch_key": str(pdf[batch_key_col].iloc[0]),
                    "ce_specversion": "1.0",
                    "ce_id": hashlib.md5(data).hexdigest(),
                    "ce_source": ce_source,
                    "ce_type": "org.opentelemetry.otlp.logs.v1",
                    "content_type": "application/protobuf",
                    "content_encoding": encoding,
                    "data": data,
                }
            ]
        )

    return df.groupBy(batch_key_col).applyInPandas(fn, _MSG_SCHEMA)


def ce_time_attr(watermark_ns: int) -> str:
    """``watermark.MarshalText()`` — RFC 3339 with trimmed nanos."""
    return go_time_rfc3339nano(watermark_ns)
