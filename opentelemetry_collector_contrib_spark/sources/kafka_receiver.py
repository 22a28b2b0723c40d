"""kafkareceiver unmarshaling parity — consumed kafka messages back into
flat log-record rows, the read half of ``operators.kafka_exporter``.

Reference behavior (`receiver/kafkareceiver/`):

- the consumer loop hands every message value to the configured
  ``LogsUnmarshaler`` (`kafka_receiver.go:640-644`); the encoding registry
  for logs is otlp_proto (default), otlp_json, raw, text, json
  (`unmarshaler.go:75-93`);
- ``otlp_proto`` / ``otlp_json``: ``plog.ProtoUnmarshaler`` /
  ``plog.JSONUnmarshaler`` — a full plog.Logs tree per message
  (`pdata_unmarshaler.go:17-19`);
- ``raw``: ONE record per message, body = the message bytes as a pdata
  bytes value, everything else empty (`raw_unmarshaler.go:16-20`);
- ``text``: one record, body = the bytes decoded with the configured
  charset (`text_unmarshaler.go:23-37`);
- ``json``: one record, body = the parsed JSON object as a pdata map
  (`json_unmarshaler.go:20-39`);
- header extraction: for each configured header key, every resource in
  the message gets attribute ``kafka.header.<key>`` = header value
  (`header_extraction.go:17-19,45-57`).

The Spark rebuild keeps unmarshaling a pure, broker-free function: input
is a DataFrame with kafka's consumer contract columns (``value`` binary,
optional ``headers``), output is flat log-record rows. Actually consuming
is one line where the connector jars exist::

    kafka_log_records(
        spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", "host:9092")
            .option("subscribe", "otel-logs")
            .option("includeHeaders", "true").load())

No kafka jars ship in this sandbox, so the UNMARSHALING is the tested
surface — `operators.kafka_exporter.kafka_messages` output round-trips
through this module by construction (pytest + driver-query pinned).

``headers`` is accepted in both shapes a consumer yields: Spark's kafka
source array<struct<key string, value binary>> (includeHeaders=true) and
a pre-decoded map<string,string>.

Documented divergence: the reference stamps text/json records with
ObservedTimestamp = time.Now() (`text_unmarshaler.go:34`,
`json_unmarshaler.go:33`) — wall-clock state this rebuild pins out of
query outputs everywhere (rerun-stable oracles); observed time is
therefore omitted, as in ``file_exporter.read_otlp_proto``.

Scale: unmarshaling is one ``map_records`` pass — each message
decodes on the executor that consumed it, message-parallel, so the plan
composes into any downstream pipeline stage without an exchange.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, types as T

from ..datamodel import FLAT_LOG_SCHEMA
from ..functions.otlp_proto import decode_logs
from ..functions.records import map_records
from ..operators.file_exporter import json_doc_records

__all__ = ["kafka_log_records"]

_RAW_SCHEMA = T.StructType(
    [
        T.StructField("body", T.BinaryType()),
        T.StructField("resource", T.MapType(T.StringType(), T.StringType())),
    ]
)

_TEXT_SCHEMA = T.StructType(
    [
        T.StructField("body", T.StringType()),
        T.StructField("resource", T.MapType(T.StringType(), T.StringType())),
    ]
)

_JSON_SCHEMA = T.StructType(
    [
        T.StructField("body", T.MapType(T.StringType(), T.StringType())),
        T.StructField("resource", T.MapType(T.StringType(), T.StringType())),
    ]
)


def _header_attrs(row_headers, header_keys) -> dict:
    """``kafka.header.<key>`` resource attributes for one message
    (`header_extraction.go:17-19,73-84`: first header wins per key,
    missing keys are skipped)."""
    if not header_keys or row_headers is None:
        return {}
    if isinstance(row_headers, dict):
        pairs = list(row_headers.items())
    else:  # Spark kafka-source shape: array<struct<key, value binary>>
        pairs = [
            (h["key"], h["value"]) if isinstance(h, dict) else (h[0], h[1])
            for h in row_headers
        ]
    out = {}
    for want in header_keys:
        for k, v in pairs:
            if k == want:
                if isinstance(v, (bytes, bytearray)):
                    v = bytes(v).decode("utf-8", "replace")
                out[f"kafka.header.{want}"] = str(v)
                break
    return out


def kafka_log_records(
    df: DataFrame,
    encoding: str = "otlp_proto",
    *,
    header_keys: tuple[str, ...] = (),
    text_encoding: str = "utf-8",
) -> DataFrame:
    """Unmarshal consumed kafka message values into flat log records —
    the logs encoding registry of `unmarshaler.go:73-93`.

    Output schema by encoding (the reference varies the plog body type
    the same way): otlp_proto/otlp_json → the fileexporter readers' flat
    record schema; raw → (body binary, resource); text → (body string,
    resource); json → (body map, resource).

    Malformed payloads raise, as the reference's consumer loop propagates
    unmarshal errors (`kafka_receiver.go:640-644`).
    """
    if encoding not in ("otlp_proto", "otlp_json", "raw", "text", "json"):
        raise ValueError(f"unrecognized encoding {encoding!r}")

    has_headers = "headers" in df.columns
    cols = ["value"] + (["headers"] if has_headers else [])
    src = df.select(*cols)
    out_schema = {
        "otlp_proto": FLAT_LOG_SCHEMA,
        "otlp_json": FLAT_LOG_SCHEMA,
        "raw": _RAW_SCHEMA,
        "text": _TEXT_SCHEMA,
        "json": _JSON_SCHEMA,
    }[encoding]

    def one(row: dict) -> list[dict]:
        buf = bytes(row["value"])
        res = _header_attrs(row.get("headers"), header_keys)
        if encoding == "raw":
            return [{"body": buf, "resource": res}]
        if encoding == "text":
            return [{"body": buf.decode(text_encoding), "resource": res}]
        if encoding == "json":
            val = json.loads(buf.decode("utf-8"))
            if not isinstance(val, dict):
                # jsoniter.Unmarshal into map[string]any fails on
                # non-objects (json_unmarshaler.go:26-28)
                raise ValueError("json encoding requires a JSON object payload")
            return [{"body": {k: str(v) for k, v in val.items()}, "resource": res}]
        recs = decode_logs(buf) if encoding == "otlp_proto" else json_doc_records(buf)
        for rec in recs:
            rec["body"] = None if rec["body"] is None else str(rec["body"])
            rec["attributes"] = {k: str(v) for k, v in rec["attributes"].items()}
            rec["resource"] = {
                **{k: str(v) for k, v in rec["resource"].items()},
                **res,
            }
        return recs

    return map_records(src, one, out_schema)
