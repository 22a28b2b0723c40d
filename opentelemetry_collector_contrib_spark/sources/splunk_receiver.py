"""splunkhecreceiver parity — Splunk HEC events back into flat
log-record rows, the read half of ``operators.splunk_exporter``.

Reference behavior (`receiver/splunkhecreceiver/splunk_to_logdata.go` +
`receiver.go:455-505` + `internal/splunk/common.go`):

- the event endpoint body is a back-to-back stream of event JSON
  objects, decoded one at a time (`receiver.go:462-476`); ``time``
  accepts a float64 or a numeric string (`common.go:71-108`);
- per event: body = ``event`` (any JSON value), timestamp = ``time``
  seconds × 1e9 (`splunk_to_logdata.go:56-61`: float multiply, then the
  Go float→integer truncation), record attributes = the ``fields`` map
  in sorted-key order (`splunk_to_logdata.go:63-74`);
- events sharing (host, source, sourcetype, index) share one
  ResourceLogs whose resource carries the non-empty metadata under the
  ``hec_metadata_to_otel_attrs`` mapping — defaults ``host.name``,
  ``com.splunk.source``, ``com.splunk.sourcetype``, ``com.splunk.index``
  (`factory.go:44-49`, `splunk_to_logdata.go:37-49,111-126`);
- the raw endpoint (`splunk_to_logdata.go:80-108`) turns the body into
  one record per line (``splitting: line``, the default) or one record
  for the whole body (``none``), metadata from the query string, all
  records stamped with one caller-provided timestamp.

Documented divergences (both pin wall-clock/float state out of query
outputs, the repo invariant):

- non-string bodies and non-string field values render to their Go
  ``encoding/json`` bytes (``functions.gofmt.go_json_value``) — the
  reference keeps them as typed pdata values; this repo's flat record
  schema is string-typed, as in ``kafka_receiver``'s json mode;
- events the reference rejects per-value (`errCannotConvertValue`) can't
  occur here: every JSON value has a rendering.

Scale: unmarshaling is one ``map_records`` pass — each request
body decodes on the executor that received it; the (host, source,
sourcetype, index) regroup the reference does in-memory per request is
the denormalized resource map on each row, so no exchange is needed.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame

from ..datamodel import FLAT_LOG_SCHEMA
from ..functions.gofmt import go_json_value
from ..functions.records import as_text, map_records

__all__ = ["hec_log_records", "hec_raw_log_records", "parse_hec_events"]

_HOST_KEY = "host.name"
_SOURCE_KEY = "com.splunk.source"
_SOURCETYPE_KEY = "com.splunk.sourcetype"
_INDEX_KEY = "com.splunk.index"

def _render(v) -> str:
    """JSON value → string cell (module docstring: strings raw, anything
    else its Go encoding/json bytes — deterministic, sorted map keys)."""
    if isinstance(v, str):
        return v
    return go_json_value(v).decode("utf-8")


def _event_time_ns(t) -> int:
    """`common.go:94-107` (float64 or numeric-string times; any OTHER
    JSON type leaves Time at 0 — the switch has no default) +
    `splunk_to_logdata.go:60-61` (seconds × 1e9; Go's float→uint64
    conversion truncates toward zero, as Python ``int()`` does)."""
    if isinstance(t, bool) or not isinstance(t, (int, float, str)):
        return 0
    return int(float(t) * 1e9)


def parse_hec_events(body: str) -> list[dict]:
    """One HEC request body (back-to-back event JSON objects,
    `receiver.go:462-476`) → event dicts. Malformed JSON raises, as the
    reference responds 400 and consumes nothing."""
    dec = json.JSONDecoder()
    events: list[dict] = []
    i, n = 0, len(body)
    while True:
        while i < n and body[i] in " \t\r\n":
            i += 1
        if i >= n:
            break
        obj, i = dec.raw_decode(body, i)
        if not isinstance(obj, dict):
            raise ValueError("HEC event must be a JSON object")
        events.append(obj)
    return events


def _metadata_resource(host: str, source: str, sourcetype: str, index: str) -> dict:
    """appendSplunkMetadata (`splunk_to_logdata.go:111-126`): only
    non-empty fields become resource attributes."""
    res = {}
    if host:
        res[_HOST_KEY] = host
    if source:
        res[_SOURCE_KEY] = source
    if sourcetype:
        res[_SOURCETYPE_KEY] = sourcetype
    if index:
        res[_INDEX_KEY] = index
    return res


def _meta_str(ev: dict, key: str) -> str:
    """HEC metadata fields are typed ``string`` in splunk.Event — a
    non-string JSON value fails the unmarshal (400, nothing consumed)."""
    v = ev.get(key)
    if v is None:
        return ""
    if not isinstance(v, str):
        raise ValueError(f"HEC event {key!r} must be a string")
    return v


def _event_to_record(ev: dict) -> dict:
    res = _metadata_resource(
        _meta_str(ev, "host"),
        _meta_str(ev, "source"),
        _meta_str(ev, "sourcetype"),
        _meta_str(ev, "index"),
    )
    fields = ev.get("fields") or {}
    if not isinstance(fields, dict):
        raise ValueError("HEC event 'fields' must be a JSON object")
    body = ev.get("event")
    return {
        "time_unix_nano": _event_time_ns(ev.get("time")),
        "severity_number": 0,
        "severity_text": "",
        "body": "" if body is None else _render(body),
        "attributes": {k: _render(fields[k]) for k in sorted(fields)},
        "resource": res,
        "scope_name": "",
        "trace_id": "",
        "span_id": "",
    }


def hec_log_records(df: DataFrame, value_col: str = "value") -> DataFrame:
    """HEC event-endpoint bodies (one or more event JSON objects per
    ``value_col`` string) → flat log records (`splunk_to_logdata.go:
    34-78`). Zero-shuffle; malformed payloads raise."""
    src = df.select(df[value_col].alias("value"))

    def one(row: dict) -> list[dict]:
        return [_event_to_record(ev) for ev in parse_hec_events(as_text(row["value"]))]

    return map_records(src, one, FLAT_LOG_SCHEMA)


def hec_raw_log_records(
    df: DataFrame,
    value_col: str = "value",
    *,
    host: str = "",
    source: str = "",
    sourcetype: str = "",
    index: str = "",
    splitting: str = "line",
    timestamp_ns: int = 0,
) -> DataFrame:
    """Raw-endpoint bodies → flat log records
    (`splunk_to_logdata.go:80-108`): ``splitting='line'`` scans the body
    line-by-line (one record each, terminator stripped — bufio.Scanner
    semantics, no empty trailing record); ``'none'`` keeps the whole body
    as one record. Metadata comes from the query string (here: kwargs);
    every record carries the one caller-provided timestamp."""
    if splitting not in ("line", "none"):
        raise ValueError(f"unrecognized splitting {splitting!r}")
    res = _metadata_resource(host, source, sourcetype, index)
    src = df.select(df[value_col].alias("value"))

    def one(row: dict) -> list[dict]:
        body = as_text(row["value"])
        return [
            {
                "time_unix_nano": int(timestamp_ns),
                "severity_number": 0,
                "severity_text": "",
                "body": piece,
                "attributes": {},
                "resource": res,
                "scope_name": "",
                "trace_id": "",
                "span_id": "",
            }
            for piece in ([body] if splitting == "none" else body.splitlines())
        ]

    return map_records(src, one, FLAT_LOG_SCHEMA)
