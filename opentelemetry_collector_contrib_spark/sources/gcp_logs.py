"""Google Cloud Logging LogEntry translation parity — JSON-encoded
LogEntry messages (the googlecloudpubsubreceiver's built-in
``cloud_logging`` encoding) into flat log-record rows.

Reference behavior (`receiver/googlecloudpubsubreceiver/internal/
log_entry.go:105-260`), which implements the logs data model appendix
mapping for Google Cloud Logging:

- ``insertId`` → attr ``log.record.uid``; ``logName`` → attr
  ``gcp.log_name``; ``labels`` → attributes verbatim;
- ``timestamp`` → Timestamp, ``receiveTimestamp`` → ObservedTimestamp
  (both RFC 3339, nanosecond-preserving);
- ``resource`` → resource attrs: ``gcp.resource_type`` + each label as
  ``gcp.<snake_case(label)>``;
- ``jsonPayload``/``textPayload``/``protoPayload`` → Body (text stays a
  string, structured payloads stay structured);
- ``severity`` → SeverityText verbatim + the LogSeverity table DEBUG 5,
  INFO 9, NOTICE 10, WARNING 13, ERROR 17, CRITICAL 21, ALERT 22,
  EMERGENCY 24 (`:68-90`);
- ``trace`` = ``projects/<p>/traces/<hex32>`` → TraceID (invalid or
  short hex → zero/unset, `:36-66`); ``spanId`` hex16 → SpanID;
- ``httpRequest`` → attr map ``gcp.http_request`` with snake_cased
  keys; every remaining field → ``gcp.<snake_case(key)>``.

Divergences (documented): the reference types leftover fields via the
protobuf LogEntry descriptor (so an int64-as-string becomes an int);
this rebuild keeps the plain JSON typing and renders non-string values
to Go-JSON bytes (string-typed flat schema, as in ``kafka_receiver``'s
json mode). Field iteration order is a Go map walk in the reference;
output here is deterministic (input key order).

Spark shape: one ``map_records`` pass; malformed JSON raises.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame, types as T

from ..functions.gofmt import go_json_value
from ..functions.records import as_text, map_records
from .azure_logs import iso8601_to_ns

__all__ = ["gcp_log_records", "parse_log_entry", "to_snake"]

_SEVERITY = {
    "DEBUG": 5, "INFO": 9, "NOTICE": 10, "WARNING": 13,
    "ERROR": 17, "CRITICAL": 21, "ALERT": 22, "EMERGENCY": 24,
}

_HEX32 = re.compile(r"^[0-9a-fA-F]{32}$")
_HEX16 = re.compile(r"^[0-9a-fA-F]{16}$")


def to_snake(s: str) -> str:
    """strcase.ToSnakeWithIgnore(s, ".") analog: camelCase → snake_case,
    acronym runs kept together, dots preserved."""
    out = re.sub(r"(?<=[a-z0-9])([A-Z])", r"_\1", s)
    out = re.sub(r"(?<=[A-Z])([A-Z][a-z])", r"_\1", out)
    return out.lower()


def _render(v) -> str:
    if isinstance(v, str):
        return v
    return go_json_value(v).decode("utf-8")


def _trace_id(trace: str) -> str:
    i = trace.rfind("/")
    if i == -1:
        return ""
    hexs = trace[i + 1 :]
    if not _HEX32.match(hexs) or set(hexs) == {"0"}:
        return ""  # invalid OR all-zero: pdata's unset trace id
    return hexs.lower()


def parse_log_entry(data: str) -> dict:
    """One LogEntry JSON document → flat record dict
    (`log_entry.go:105-260`). Raises on malformed JSON / wrong-typed
    special fields, as the reference propagates those errors."""
    src = json.loads(data)
    if not isinstance(src, dict):
        raise ValueError("LogEntry must be a JSON object")
    attrs: dict[str, str] = {}
    res: dict[str, str] = {}
    rec = {
        "time_unix_nano": 0,
        "observed_time_unix_nano": 0,
        "severity_number": 0,
        "severity_text": "",
        "body": "",
        "attributes": attrs,
        "resource": res,
        "scope_name": "",
        "trace_id": "",
        "span_id": "",
    }
    rest: dict = {}
    for k, v in src.items():
        if k == "insertId":
            if not isinstance(v, str):
                raise ValueError("insertId must be a string")
            attrs["log.record.uid"] = v
        elif k == "timestamp":
            rec["time_unix_nano"] = iso8601_to_ns(str(v))
        elif k == "receiveTimestamp":
            rec["observed_time_unix_nano"] = iso8601_to_ns(str(v))
        elif k == "resource":
            if not isinstance(v, dict):
                raise ValueError("resource must be an object")
            res["gcp.resource_type"] = str(v.get("type") or "")
            for lk, lv in (v.get("labels") or {}).items():
                res[to_snake(f"gcp.{lk}")] = str(lv)
        elif k == "logName":
            if not isinstance(v, str):
                raise ValueError("logName must be a string")
            attrs["gcp.log_name"] = v
        elif k in ("jsonPayload", "textPayload", "protoPayload"):
            rec["body"] = _render(v)
        elif k == "severity":
            if not isinstance(v, str):
                raise ValueError("severity must be a string")
            rec["severity_text"] = v
            rec["severity_number"] = _SEVERITY.get(v, 0)
        elif k == "trace":
            if not isinstance(v, str):
                raise ValueError("trace must be a string")
            rec["trace_id"] = _trace_id(v)
        elif k == "spanId":
            if not isinstance(v, str):
                raise ValueError("spanId must be a string")
            rec["span_id"] = (
                v.lower()
                if _HEX16.match(v) and set(v) != {"0"}
                else ""
            )
        elif k == "labels":
            if not isinstance(v, dict):
                raise ValueError("labels must be an object")
            for lk, lv in v.items():
                attrs[lk] = str(lv)
        elif k == "httpRequest":
            if not isinstance(v, dict):
                raise ValueError("httpRequest must be an object")
            attrs["gcp.http_request"] = _render(
                {to_snake(hk): hv for hk, hv in v.items()}
            )
        else:
            rest[k] = v
    for k, v in rest.items():
        attrs[to_snake(f"gcp.{k}")] = _render(v)
    return rec


_FLAT_SCHEMA = T.StructType(
    [
        T.StructField("time_unix_nano", T.LongType()),
        T.StructField("observed_time_unix_nano", T.LongType()),
        T.StructField("severity_number", T.IntegerType()),
        T.StructField("severity_text", T.StringType()),
        T.StructField("body", T.StringType()),
        T.StructField("attributes", T.MapType(T.StringType(), T.StringType())),
        T.StructField("resource", T.MapType(T.StringType(), T.StringType())),
        T.StructField("scope_name", T.StringType()),
        T.StructField("trace_id", T.StringType()),
        T.StructField("span_id", T.StringType()),
    ]
)


def gcp_log_records(df: DataFrame, value_col: str = "value") -> DataFrame:
    """LogEntry JSON DataFrame → flat log records, zero-shuffle."""
    src = df.select(df[value_col].alias("value"))

    return map_records(
        src, lambda row: [parse_log_entry(as_text(row["value"]))], _FLAT_SCHEMA
    )
