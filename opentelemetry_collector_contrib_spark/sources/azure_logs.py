"""Azure resource-logs translator parity — Event-Hub-exported Azure
Monitor records into flat log-record rows (the unmarshal shared by
`receiver/azureeventhubreceiver` and `receiver/azureblobreceiver`).

Reference behavior (`pkg/translator/azure/resourcelogs_to_logs.go`):

- a payload is ``{"records": [...]}``; records group into one
  ResourceLogs per distinct ``resourceId`` in FIRST-SEEN order, the
  resource carrying only ``azure.resource.id``; scope name is
  ``otelcol/azureresourcelogs`` (`:83-113`);
- timestamp = ``time`` else ``timeStamp`` (ISO 8601); a record whose
  timestamp is missing or unparseable is SKIPPED with a warning
  (`:114-121,138-158`). Azure stamps 100 ns ticks (7 fractional
  digits), beyond Python ``datetime`` microseconds — the fraction is
  parsed manually so the nanosecond value matches Go ``UnixNano``;
- ``Level`` named values map Informational/Warning/Error/Critical →
  severity 9/13/17/21; other numerics > 0 pass through as the severity
  number; severity text is the raw Level string (`:160-181`);
- attributes (`:183-211`): ``azure.category``/``azure.operation.name``
  always (even empty), optional ``azure.{correlation.id, operation.
  version, result.type, result.signature, result.description,
  tenant.id}`` set only when non-empty, ``azure.duration`` = int64 of
  durationMs (silently omitted when unparseable), ``azure.identity`` /
  ``azure.properties`` raw JSON values, ``cloud.region`` from
  location, ``cloud.provider`` = ``azure`` always, and
  ``net.sock.peer.addr`` from callerIpAddress.

Divergence note: typed attribute values render to strings — scalars
verbatim, structured values as Go ``encoding/json`` bytes (this repo's
flat schema is string-typed, as in ``kafka_receiver``'s json mode).

Spark shape: one ``map_records`` pass; the per-resource regroup is
the denormalized resource map on each row, no exchange. Malformed JSON
raises (the receiver propagates unmarshal errors).
"""

from __future__ import annotations

import calendar
import json
import re

from pyspark.sql import DataFrame

from ..datamodel import FLAT_LOG_SCHEMA
from ..functions.gofmt import go_json_value
from ..functions.records import as_text, map_records

__all__ = ["azure_log_records", "iso8601_to_ns", "parse_azure_body"]

_SCOPE = "otelcol/azureresourcelogs"

_ISO_RE = re.compile(
    r"^(\d{4})-(\d{2})-(\d{2})[Tt ](\d{2}):(\d{2})(?::(\d{2}))?"
    r"(?:\.(\d+))?\s*(Zz?|[+-]\d{2}:?\d{2})?$"
)

_NAMED_SEVERITY = {
    "Informational": 9,  # SeverityNumberInfo
    "Warning": 13,       # SeverityNumberWarn
    "Error": 17,         # SeverityNumberError
    "Critical": 21,      # SeverityNumberFatal
}


def iso8601_to_ns(s: str) -> int:
    """ISO 8601 → epoch nanoseconds, preserving sub-microsecond digits
    (Azure's 7-digit 100 ns ticks) that ``datetime`` would drop. Raises
    ValueError on unparseable input — the caller's skip path."""
    m = _ISO_RE.match(s.strip())
    if not m:
        raise ValueError(f"unparseable ISO8601 timestamp {s!r}")
    year, month, day, hh, mm = (int(m.group(i)) for i in range(1, 6))
    ss = int(m.group(6) or 0)
    frac = (m.group(7) or "").ljust(9, "0")[:9]
    tz = m.group(8)
    sec = calendar.timegm((year, month, day, hh, mm, ss, 0, 0, 0))
    if tz and tz.upper() != "Z":
        sign = 1 if tz[0] == "+" else -1
        tzh, tzm = int(tz[1:3]), int(tz[-2:])
        sec -= sign * (tzh * 3600 + tzm * 60)
    return sec * 1_000_000_000 + int(frac or 0)


def _render(v) -> str:
    if isinstance(v, str):
        return v
    return go_json_value(v).decode("utf-8")


def _set_if(attrs: dict, key: str, value) -> None:
    if value is not None and value != "":
        attrs[key] = _render(value)


def _severity(level) -> tuple[int, str]:
    """asSeverity (`resourcelogs_to_logs.go:160-181`). Divergence note:
    Go's json.Number keeps the raw literal (``4.50`` → text "4.50");
    Python re-renders the parsed value ("4.5") — integral and named
    levels, the only ones Azure emits, are identical."""
    if isinstance(level, bool):
        return 0, str(level)
    if isinstance(level, float) and level.is_integer():
        level = int(level)
    text = str(level)
    if text in _NAMED_SEVERITY:
        return _NAMED_SEVERITY[text], text
    try:
        n = int(text)
    except ValueError:
        n = 0
    return (n if n > 0 else 0), text


def parse_azure_body(body: str) -> list[dict]:
    """One payload → flat record dicts, resource-grouped in first-seen
    resourceId order (`resourcelogs_to_logs.go:83-135`)."""
    doc = json.loads(body)
    if not isinstance(doc, dict):
        raise ValueError("azure payload must be a JSON object")
    by_resource: dict[str, list[dict]] = {}
    for rec in doc.get("records") or []:
        if not isinstance(rec, dict):
            raise ValueError("azure record must be a JSON object")
        by_resource.setdefault(str(rec.get("resourceId") or ""), []).append(rec)

    out: list[dict] = []
    for resource_id, recs in by_resource.items():  # dicts keep insert order
        for rec in recs:
            ts = rec.get("time") or rec.get("timeStamp") or ""
            try:
                if not ts:
                    raise ValueError("missing timestamp")
                ns = iso8601_to_ns(str(ts))
            except ValueError:
                continue  # warn-and-skip path
            sev_num, sev_text = 0, ""
            if rec.get("Level") is not None:
                sev_num, sev_text = _severity(rec["Level"])
            attrs: dict[str, str] = {}
            attrs["azure.category"] = _render(rec.get("category") or "")
            _set_if(attrs, "azure.correlation.id", rec.get("correlationId"))
            dur = rec.get("durationMs")
            if dur is not None:
                try:
                    attrs["azure.duration"] = str(int(str(dur)))
                except ValueError:
                    pass  # unparseable duration is silently omitted
            if rec.get("identity") is not None:
                attrs["azure.identity"] = _render(rec["identity"])
            attrs["azure.operation.name"] = _render(
                rec.get("operationName") or ""
            )
            _set_if(attrs, "azure.operation.version", rec.get("operationVersion"))
            if rec.get("properties") is not None:
                attrs["azure.properties"] = _render(rec["properties"])
            _set_if(attrs, "azure.result.description", rec.get("resultDescription"))
            _set_if(attrs, "azure.result.signature", rec.get("resultSignature"))
            _set_if(attrs, "azure.result.type", rec.get("resultType"))
            _set_if(attrs, "azure.tenant.id", rec.get("tenantId"))
            _set_if(attrs, "cloud.region", rec.get("location"))
            attrs["cloud.provider"] = "azure"
            _set_if(attrs, "net.sock.peer.addr", rec.get("callerIpAddress"))
            out.append(
                {
                    "time_unix_nano": ns,
                    "severity_number": sev_num,
                    "severity_text": sev_text,
                    "body": "",
                    "attributes": attrs,
                    "resource": {"azure.resource.id": resource_id},
                    "scope_name": _SCOPE,
                    "trace_id": "",
                    "span_id": "",
                }
            )
    return out


def azure_log_records(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Azure Event Hub / Blob payloads → flat log records, zero-shuffle."""
    src = df.select(df[value_col].alias("value"))

    return map_records(
        src, lambda row: parse_azure_body(as_text(row["value"])), FLAT_LOG_SCHEMA
    )
