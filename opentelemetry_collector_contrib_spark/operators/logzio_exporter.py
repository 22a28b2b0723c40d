"""Logz.io exporter parity (log path) — log records → newline-joined
JSON log lines.

Reference behavior (`exporter/logzioexporter/jsonlog.go`,
`exporter.go:124-180`):

- per (resource, scope): ``details`` = resource attrs merged with
  scope attrs — a key collision folds the values into an array
  ``[resource_value, scope_value]`` (an existing array appends) —
  plus ``scopeName`` (always set, even when empty);
- per record: ``spanID``/``traceID`` hex when non-empty, ``level`` =
  severity text when non-empty, ``@timestamp`` = epoch-MILLIS
  skipped when the milli value is 0 (sub-millisecond timestamps
  vanish), then every details entry (overwriting the base keys),
  then the body: a string body lands under ``message``, a map body's
  fields merge at top level (each overwriting);
- the line bytes are Go ``json.Marshal`` of the map — sorted keys +
  HTML escaping — newline-joined per push.

Spark shape: one ``map_records`` pass; the Go-JSON renderer
(``functions.gofmt``) is shared with the other marshalers, so the line
bytes are parity-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, types as T

from ..functions.gofmt import go_json_value
from ..functions.records import map_records

__all__ = ["logzio_json_log", "logzio_lines", "merge_map_entries"]


def merge_map_entries(*maps: dict) -> dict:
    """`exporter.go:153-180` — later maps fold colliding keys into
    arrays (existing arrays append)."""
    res: dict = {}
    for m in maps:
        for k, v in (m or {}).items():
            if k in res:
                cur = res[k]
                if isinstance(cur, list):
                    res[k] = cur + [v]
                else:
                    res[k] = [cur, v]
            else:
                res[k] = v
    return res


def logzio_json_log(rec: dict) -> str:
    """One flat record → the Logz.io JSON line (`jsonlog.go:14-46`)."""
    details = merge_map_entries(
        dict(rec.get("resource") or {}),
        dict(rec.get("scope_attributes") or {}),
    )
    details["scopeName"] = str(rec.get("scope_name") or "")

    out: dict = {}
    if rec.get("span_id"):
        out["spanID"] = str(rec["span_id"])
    if rec.get("trace_id"):
        out["traceID"] = str(rec["trace_id"])
    if rec.get("severity_text"):
        out["level"] = str(rec["severity_text"])
    ms = int(rec.get("time_unix_nano") or 0) // 1_000_000
    if ms != 0:
        out["@timestamp"] = ms
    out.update(details)
    body = rec.get("body")
    if isinstance(body, dict):
        out.update(body)
    elif body is not None:
        out["message"] = str(body)
    return go_json_value(out).decode("utf-8")


_SCHEMA = T.StructType([T.StructField("line", T.StringType())])


def logzio_lines(df: DataFrame) -> DataFrame:
    """Flat log-record rows → one JSON line per record. Zero-shuffle."""
    return map_records(df, lambda rec: [{"line": logzio_json_log(rec)}], _SCHEMA)
