"""kafkaexporter marshaling parity — the exact bytes the reference hands to
sarama, as a DataFrame of (topic, key, value) message rows.

Reference behavior (`exporter/kafkaexporter/`):

- ``logsDataPusher`` marshals a plog.Logs batch and sends the resulting
  message list (`kafka_exporter.go:128-146`);
- encoding ``otlp_proto`` (default) / ``otlp_json``: ONE message per
  plog.Logs batch, value = plog marshaler output, no key
  (`pdata_marshaler.go:21-43`, `marshaler.go:73-81`);
- encoding ``raw``: one message PER LOG RECORD; the value is the body —
  bytes pass through, every other type is ``json.Marshal``-ed, and
  zero-length bodies are skipped (`raw_marshaler.go:24-71`).

The Spark rebuild keeps marshaling a pure, broker-free function: the
output is a DataFrame with kafka's writer contract columns
(topic string, key binary, value binary), so actually producing is one
line where the connector jars exist::

    kafka_messages(df, "otel-logs").write.format("kafka")
        .option("kafka.bootstrap.servers", "host:9092").save()

No kafka jars ship in this sandbox, so the write wiring is documented and
the BYTES are the tested surface (golden tests pin hand-built frames).

Batch granularity: the collector marshals whatever plog.Logs batch the
pipeline hands it — an execution detail, not a data property. The
DataFrame analog groups records by (resource, scope_name), the tree
levels OTLP preserves inside one message; each group becomes one message
(deterministic, independent of Spark task boundaries).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..functions.gofmt import go_json_string
from ..functions.otlp_proto import encode_logs
from ..sources.readers import otlp_json_lines

__all__ = ["kafka_messages"]

_MSG_SCHEMA = T.StructType(
    [
        T.StructField("topic", T.StringType()),
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
    ]
)


def _raw_messages(df: DataFrame, topic: str) -> DataFrame:
    """raw encoding: one message per record, value = marshaled body
    (`raw_marshaler.go:24-55`). String bodies are JSON-quoted exactly as
    Go would; empty bodies are dropped (``len(b) == 0 → continue``)."""

    @F.pandas_udf(T.BinaryType())
    def marshal_body(bodies: pd.Series) -> pd.Series:
        return bodies.map(
            lambda b: None if b is None else go_json_string(str(b))
        )

    return (
        df.select(marshal_body(F.col("body")).alias("value"))
        .where(F.col("value").isNotNull() & (F.length("value") > F.lit(0)))
        .select(
            F.lit(topic).alias("topic"),
            F.lit(None).cast("binary").alias("key"),
            "value",
        )
    )


def _otlp_json_messages(df: DataFrame, topic: str) -> DataFrame:
    """otlp_json encoding: plog JSONMarshaler bytes per (resource, scope)
    group — reuses the fileexporter JSON-line assembly
    (``sources.readers.otlp_json_lines``), which is the same plog JSON
    mapping the kafka marshaler serializes (`marshaler.go:75`)."""
    if "ts" not in df.columns and "time_unix_nano" in df.columns:
        # integer division: `/` promotes to double, whose 256-ns ulp near
        # 1.7e18 mis-rounds timestamps across microsecond boundaries
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("time_unix_nano div 1000"))
        )
    return otlp_json_lines(df).select(
        F.lit(topic).alias("topic"),
        F.lit(None).cast("binary").alias("key"),
        F.col("value").cast("binary").alias("value"),
    )


def _otlp_proto_messages(df: DataFrame, topic: str, splits: int = 1) -> DataFrame:
    """otlp_proto (default) encoding: ``plog.ProtoMarshaler`` bytes per
    (resource, scope) group via the pure-Python wire codec. Records inside
    a message are ordered by (trace_id, span_id, time, body) so the bytes
    are a pure function of the row SET, not of task boundaries.

    ``splits > 1`` shards each group into ``splits`` deterministic
    sub-messages keyed on xxhash64(trace_id, span_id, body) — the skew/
    size valve for hot resources: the reference's message size is bounded
    by pipeline batching (one message per plog batch) and rejected by
    sarama past ``producer.max_message_bytes`` (config.go:79); at corpus
    scale a hot (resource, scope) group would otherwise funnel into one
    task and one oversized message. Size splits so group/splits fits the
    broker limit."""
    cols = df.columns

    def marshal_group(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame(columns=["topic", "key", "value"])
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
        return pd.DataFrame(
            [{"topic": topic, "key": None, "value": encode_logs(recs)}]
        )

    if "scope_name" not in cols:
        df = df.withColumn("scope_name", F.lit(""))
    # ONE exchange: applyInPandas hash-partitions on the grouping key, so
    # each (resource, scope[, shard]) group marshals into exactly one message
    keys = [F.to_json(F.col("resource")).alias("_res_key"), F.col("scope_name")]
    if splits > 1:
        keys.append(
            F.pmod(
                F.xxhash64(F.col("trace_id"), F.col("span_id"), F.col("body")),
                F.lit(splits),
            ).alias("_shard")
        )
    return df.groupBy(*keys).applyInPandas(marshal_group, _MSG_SCHEMA)


def kafka_messages(
    df: DataFrame, topic: str, encoding: str = "otlp_proto", splits: int = 1
) -> DataFrame:
    """Marshal a flat log-record DataFrame into kafka producer messages
    (topic string, key binary, value binary) — `marshaler.go:71-81`'s
    encoding registry for logs: otlp_proto (default), otlp_json, raw.
    ``splits`` bounds per-message size for hot resource groups
    (otlp_proto only; raw is per-record and otlp_json groups are sized
    by the upstream batch)."""
    if encoding == "raw":
        return _raw_messages(df, topic)
    if encoding == "otlp_json":
        return _otlp_json_messages(df, topic)
    if encoding == "otlp_proto":
        return _otlp_proto_messages(df, topic, splits=splits)
    raise ValueError(f"unrecognized encoding {encoding!r}")
