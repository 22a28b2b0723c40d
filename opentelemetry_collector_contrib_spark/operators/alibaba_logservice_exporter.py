"""Alibaba Cloud Log Service exporter parity (log path) — log records
→ SLS log key/value contents.

Reference behavior
(`exporter/alibabacloudlogserviceexporter/logsdata_to_logservice.go`):

- records with an EMPTY body type are skipped (`:118-120`);
- per-record contents, in append order: ``host`` (resource
  ``host.name``, "" when absent), ``service`` (resource
  ``service.name``, "" when absent), ``resource`` (Go json.Marshal of
  the REMAINING resource attributes AsString — sorted keys + HTML
  escaping), ``otlp.name`` / ``otlp.version`` (scope), then
  ``timeUnixNano`` (decimal uint64), ``severityNumber`` (decimal),
  ``severityText``, ``attribute`` (JSON of the record attributes
  AsString), ``content`` (body AsString), ``flags`` (HEX — Go
  FormatUint base 16), ``traceID`` / ``spanID`` (hex or "");
- SLS ``Time`` = timestamp seconds (ns / 1e9) when the timestamp is
  positive, else ``time.Now()`` — pinned via ``now_sec`` here.

The trace path's ``sanitize`` helper applies to the METRICS
translation only; log keys are fixed constants.

The Tencent Cloud LS exporter's log translation
(`exporter/tencentcloudlogserviceexporter/logsdata_to_logservice.go:
20-170`) uses the same content keys and identical per-record
semantics (empty-body skip, host/service extraction, leftover-
resource JSON, hex flags, ns→s Time w/ now fallback) — this one
implementation covers both exporters.

Spark shape: one ``map_records`` pass (Go-JSON map rendering
needs Python); output is one flat row per record with each content
key as a column — the natural Spark sink shape, equal to the SLS
pair list by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, types as T

from ..functions.gofmt import go_json_value
from ..functions.records import map_records

__all__ = ["sls_log_rows"]

_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("service", T.StringType()),
        T.StructField("resource_json", T.StringType()),
        T.StructField("otlp_name", T.StringType()),
        T.StructField("otlp_version", T.StringType()),
        T.StructField("time_unix_nano", T.StringType()),
        T.StructField("severity_number", T.StringType()),
        T.StructField("severity_text", T.StringType()),
        T.StructField("attribute_json", T.StringType()),
        T.StructField("content", T.StringType()),
        T.StructField("flags_hex", T.StringType()),
        T.StructField("trace_id", T.StringType()),
        T.StructField("span_id", T.StringType()),
        T.StructField("time_sec", T.LongType()),
    ]
)


def _sls_row(rec: dict, now_sec: int) -> dict | None:
    if rec.get("body") is None:
        return None  # ValueTypeEmpty body → record skipped
    resource = dict(rec.get("resource") or {})
    host = str(resource.get("host.name", ""))
    service = str(resource.get("service.name", ""))
    rest = {
        k: str(v)
        for k, v in resource.items()
        if k not in ("host.name", "service.name")
    }
    attrs = {k: str(v) for k, v in dict(rec.get("attributes") or {}).items()}
    ts = int(rec.get("time_unix_nano") or 0)
    return {
        "host": host,
        "service": service,
        "resource_json": go_json_value(rest).decode(),
        "otlp_name": str(rec.get("scope_name") or ""),
        "otlp_version": str(rec.get("scope_version") or ""),
        "time_unix_nano": str(ts),
        "severity_number": str(int(rec.get("severity_number") or 0)),
        "severity_text": str(rec.get("severity_text") or ""),
        "attribute_json": go_json_value(attrs).decode(),
        "content": str(rec.get("body")),
        "flags_hex": format(int(rec.get("flags") or 0), "x"),
        "trace_id": str(rec.get("trace_id") or ""),
        "span_id": str(rec.get("span_id") or ""),
        "time_sec": ts // 1_000_000_000 if ts > 0 else now_sec,
    }


def sls_log_rows(df: DataFrame, now_sec: int = 0) -> DataFrame:
    """Flat log-record rows → SLS log contents (one column per content
    key, `logsdata_to_logservice.go:36-190`). Zero-shuffle."""

    def one(rec: dict) -> list[dict]:
        r = _sls_row(rec, now_sec)
        return [] if r is None else [r]

    return map_records(df, one, _SCHEMA)
