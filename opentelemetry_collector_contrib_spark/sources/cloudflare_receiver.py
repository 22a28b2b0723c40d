"""cloudflarereceiver parity — Logpush HTTP payloads (NDJSON) into flat
log-record rows.

Reference behavior (`receiver/cloudflarereceiver/logs.go`):

- a payload is newline-delimited JSON objects; empty lines are skipped;
  a malformed line fails the request (`:197-212`);
- records group by their ``ZoneName`` (when a string) into one
  ResourceLogs carrying ``cloudflare.zone`` (only when non-empty);
  scope name ``otelcol/cloudflare`` (`:214-237`);
- timestamp: the configured ``timestamp_field`` (default
  ``EdgeStartTimestamp``) when present AND a string AND RFC 3339 —
  anything else warns and leaves the record unstamped (`:242-254`);
- severity from ``EdgeResponseStatus`` (string/int/float accepted):
  <300 Info(9), <400 Info2(10), <500 Warn(13), <600 Error(17), else
  unset; severity text is the pdata name Info/Info2/Warn/Error
  (`:256-274,306-321`);
- the ``attributes`` config maps source fields → attribute names with
  typed puts — string/int/float/bool pass, any other type warns and is
  skipped (`:276-296`);
- the record BODY is the whole parsed log object as a pdata map
  (`:298-301`).

Divergences (documented): Go map iteration makes the reference's
resource-group emit order random — this rebuild uses first-seen order
(deterministic reruns, the repo invariant); observed-timestamp
``time.Now()`` is pinned out; typed attribute/body values render to
strings — scalars via Go ``encoding/json`` (bools ``true``/``false``,
shortest floats), the body as the object's Go-JSON bytes with sorted
keys — because this repo's flat schema is string-typed.

Spark shape: one ``map_records`` pass.
"""

from __future__ import annotations

import calendar
import json
import re

from pyspark.sql import DataFrame

from ..datamodel import FLAT_LOG_SCHEMA
from ..functions.gofmt import go_json_value
from ..functions.records import as_text, map_records

__all__ = ["cloudflare_log_records", "parse_cloudflare_payload"]

_SCOPE = "otelcol/cloudflare"

# RFC 3339 as Go time.Parse(time.RFC3339) accepts it: "T" separator,
# optional fraction, "Z" or ±HH:MM offset (offset REQUIRED).
_RFC3339_RE = re.compile(
    r"^(\d{4})-(\d{2})-(\d{2})[Tt](\d{2}):(\d{2}):(\d{2})"
    r"(?:\.(\d+))?(Zz?|[+-]\d{2}:\d{2})$"
)

_SEV = [(300, 9, "Info"), (400, 10, "Info2"), (500, 13, "Warn"), (600, 17, "Error")]


def _rfc3339_ns(s: str) -> int | None:
    m = _RFC3339_RE.match(s)
    if not m:
        return None
    year, month, day, hh, mm, ss = (int(m.group(i)) for i in range(1, 7))
    frac = (m.group(7) or "").ljust(9, "0")[:9]
    tz = m.group(8)
    sec = calendar.timegm((year, month, day, hh, mm, ss, 0, 0, 0))
    if tz.upper() != "Z":
        sign = 1 if tz[0] == "+" else -1
        sec -= sign * (int(tz[1:3]) * 3600 + int(tz[4:6]) * 60)
    return sec * 1_000_000_000 + int(frac or 0)


def _severity(v) -> tuple[int, str]:
    if isinstance(v, bool):
        return 0, ""
    if isinstance(v, str):
        try:
            code = int(v)
        except ValueError:
            return 0, ""  # warn-and-skip
    elif isinstance(v, (int, float)):
        code = int(v)
    else:
        return 0, ""
    for bound, num, text in _SEV:
        if code < bound:
            return num, text
    return 0, ""


def _render(v) -> str:
    if isinstance(v, str):
        return v
    return go_json_value(v).decode("utf-8")


def parse_cloudflare_payload(
    payload: str,
    *,
    timestamp_field: str = "EdgeStartTimestamp",
    attributes: dict[str, str] | None = None,
) -> list[dict]:
    """One Logpush POST body → flat record dicts (`logs.go:197-304`)."""
    logs: list[dict] = []
    for line in payload.split("\n"):
        if not line:
            continue
        obj = json.loads(line)
        if not isinstance(obj, dict):
            raise ValueError("cloudflare log line must be a JSON object")
        logs.append(obj)

    grouped: dict[str, list[dict]] = {}
    for log in logs:
        zone = log.get("ZoneName")
        grouped.setdefault(zone if isinstance(zone, str) else "", []).append(log)

    out: list[dict] = []
    for zone, group in grouped.items():  # first-seen order (divergence note)
        resource = {"cloudflare.zone": zone} if zone else {}
        for log in group:
            ns = 0
            tsv = log.get(timestamp_field)
            if isinstance(tsv, str):
                ns = _rfc3339_ns(tsv) or 0  # unparseable → warn, no stamp
            sev_num, sev_text = 0, ""
            if "EdgeResponseStatus" in log:
                sev_num, sev_text = _severity(log["EdgeResponseStatus"])
            attrs: dict[str, str] = {}
            for field, attr_name in (attributes or {}).items():
                if field in log:
                    v = log[field]
                    if isinstance(v, (str, int, float, bool)):
                        attrs[attr_name] = _render(v)
                    # other types: warn-and-skip (`logs.go:290-292`)
            out.append(
                {
                    "time_unix_nano": ns,
                    "severity_number": sev_num,
                    "severity_text": sev_text,
                    "body": go_json_value(log).decode("utf-8"),
                    "attributes": attrs,
                    "resource": resource,
                    "scope_name": _SCOPE,
                    "trace_id": "",
                    "span_id": "",
                }
            )
    return out


def cloudflare_log_records(
    df: DataFrame,
    value_col: str = "value",
    *,
    timestamp_field: str = "EdgeStartTimestamp",
    attributes: dict[str, str] | None = None,
) -> DataFrame:
    """Logpush payload DataFrame → flat log records, zero-shuffle."""
    src = df.select(df[value_col].alias("value"))

    def one(row: dict) -> list[dict]:
        return parse_cloudflare_payload(
            as_text(row["value"]),
            timestamp_field=timestamp_field,
            attributes=attributes,
        )

    return map_records(src, one, FLAT_LOG_SCHEMA)
