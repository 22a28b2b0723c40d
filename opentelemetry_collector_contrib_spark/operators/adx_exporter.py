"""Azure Data Explorer exporter parity (log path) — log records →
the ADX Log-table row shape.

Reference behavior
(`exporter/azuredataexplorerexporter/logsdata_to_adx.go:16-46`,
helpers `adx_exporter.go:242-253`, `metricsdata_to_adx.go:264-274`):

- one AdxLog per record: ``Timestamp``/``ObservedTimestamp`` as
  RFC 3339 Nano strings (Go trims trailing fraction zeros; the zero
  timestamp renders as the epoch), hex-or-empty trace/span ids,
  severity text/number, body.AsString, the resource attribute map
  verbatim, and the record attributes CLONED then overlaid with
  ``scope.name``/``scope.version`` when the scope fields are
  non-empty (a scope entry overwrites a record attribute of the same
  name).

Spark shape: one ``map_records`` pass; the 100 TB sink is ADX
ingestion over exactly this row shape (the reference streams
CSV/JSON mappings of the same columns).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, types as T

from ..functions.gofmt import go_time_rfc3339nano
from ..functions.records import map_records, null_as_none

__all__ = ["adx_log_rows"]

_SCHEMA = T.StructType(
    [
        T.StructField("Timestamp", T.StringType()),
        T.StructField("ObservedTimestamp", T.StringType()),
        T.StructField("TraceID", T.StringType()),
        T.StructField("SpanID", T.StringType()),
        T.StructField("SeverityText", T.StringType()),
        T.StructField("SeverityNumber", T.IntegerType()),
        T.StructField("Body", T.StringType()),
        T.StructField(
            "ResourceAttributes", T.MapType(T.StringType(), T.StringType())
        ),
        T.StructField(
            "LogsAttributes", T.MapType(T.StringType(), T.StringType())
        ),
    ]
)


def _adx_row(row: dict) -> dict:
    rec = {c: null_as_none(v) for c, v in row.items()}
    attrs = {str(k): str(v) for k, v in dict(rec.get("attributes") or {}).items()}
    if rec.get("scope_name"):
        attrs["scope.name"] = str(rec["scope_name"])
    if rec.get("scope_version"):
        attrs["scope.version"] = str(rec["scope_version"])
    body = rec.get("body")
    return {
        "Timestamp": go_time_rfc3339nano(int(rec.get("time_unix_nano") or 0)),
        "ObservedTimestamp": go_time_rfc3339nano(
            int(rec.get("observed_time_unix_nano") or 0)
        ),
        "TraceID": str(rec.get("trace_id") or ""),
        "SpanID": str(rec.get("span_id") or ""),
        "SeverityText": str(rec.get("severity_text") or ""),
        "SeverityNumber": int(rec.get("severity_number") or 0),
        "Body": "" if body is None else str(body),
        "ResourceAttributes": {
            str(k): str(v) for k, v in dict(rec.get("resource") or {}).items()
        },
        "LogsAttributes": attrs,
    }


def adx_log_rows(df: DataFrame) -> DataFrame:
    """Flat log-record rows → AdxLog rows. Zero-shuffle."""
    return map_records(df, lambda rec: [_adx_row(rec)], _SCHEMA)
