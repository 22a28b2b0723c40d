"""SkyWalking exporter parity (log path) — log records → SkyWalking
LogData.

Reference behavior
(`exporter/skywalkingexporter/logrecord_to_logdata.go`):

- ``service`` = resource ``service.name`` (default
  ``otel-collector``), ``serviceInstance`` = ``service.instance.id``;
- tags are an ORDERED pair list: every resource attribute (including
  service.name itself), then ``otlp.name``/``otlp.version`` when the
  scope fields are non-empty, then — only when the body is not the
  Empty type — ``severityNumber`` (decimal, always appended),
  ``severityText`` when non-empty, every record attribute, ``flags``
  (hex, always appended — FormatUint never yields ""), and
  ``spanID`` when non-empty;
- ``timestamp`` = epoch ms when the record timestamp is positive;
- body = TextLog(body.AsString()) with type ``body-type``;
  ``traceContext.traceId`` when the trace id is non-empty;
- an EMPTY body short-circuits the record half entirely — the
  LogData is still emitted carrying only the resource/scope tags
  (`:89-92` early return after resource/scope application).

Spark shape: one ``map_records`` pass; the ordered tag list is
emitted as a JSON array string so order survives the flat schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, types as T

from ..functions.gofmt import go_json_value
from ..functions.records import map_records

__all__ = ["skywalking_log_data", "skywalking_log_rows"]


def _pairs_json(pairs: list[tuple[str, str]]) -> str:
    return (
        b"["
        + b",".join(
            b'{"key":' + go_json_value(k) + b',"value":'
            + go_json_value(v) + b"}"
            for k, v in pairs
        )
        + b"]"
    ).decode()


def skywalking_log_data(rec: dict) -> dict:
    """One flat record → LogData fields
    (`logrecord_to_logdata.go:28-150`)."""
    resource = dict(rec.get("resource") or {})
    svc = resource.get("service.name")
    service = str(svc) if svc is not None else "otel-collector"
    inst = resource.get("service.instance.id")

    pairs: list[tuple[str, str]] = [
        (str(k), str(v)) for k, v in resource.items()
    ]
    if rec.get("scope_name"):
        pairs.append(("otlp.name", str(rec["scope_name"])))
    if rec.get("scope_version"):
        pairs.append(("otlp.version", str(rec["scope_version"])))

    body = rec.get("body")
    out = {
        "service": service,
        "service_instance": str(inst) if inst is not None else "",
        "timestamp_ms": 0,
        "body": None,
        "body_type": None,
        "trace_id": None,
        "tags_json": "",
    }
    if body is None:  # ValueTypeEmpty: record half skipped entirely
        out["tags_json"] = _pairs_json(pairs)
        return out

    ts = int(rec.get("time_unix_nano") or 0)
    if ts > 0:
        out["timestamp_ms"] = ts // 1_000_000
    pairs.append(
        ("severityNumber", str(int(rec.get("severity_number") or 0)))
    )
    if rec.get("severity_text"):
        pairs.append(("severityText", str(rec["severity_text"])))
    for k, v in dict(rec.get("attributes") or {}).items():
        pairs.append((str(k), str(v)))
    out["body"] = str(body)
    out["body_type"] = "body-type"
    pairs.append(("flags", format(int(rec.get("flags") or 0), "x")))
    if rec.get("trace_id"):
        out["trace_id"] = str(rec["trace_id"])
    if rec.get("span_id"):
        pairs.append(("spanID", str(rec["span_id"])))
    out["tags_json"] = _pairs_json(pairs)
    return out


_SCHEMA = T.StructType(
    [
        T.StructField("service", T.StringType()),
        T.StructField("service_instance", T.StringType()),
        T.StructField("timestamp_ms", T.LongType()),
        T.StructField("body", T.StringType()),
        T.StructField("body_type", T.StringType()),
        T.StructField("trace_id", T.StringType()),
        T.StructField("tags_json", T.StringType()),
    ]
)


def skywalking_log_rows(df: DataFrame) -> DataFrame:
    """Flat log-record rows → LogData rows. Zero-shuffle."""
    return map_records(df, lambda rec: [skywalking_log_data(rec)], _SCHEMA)
