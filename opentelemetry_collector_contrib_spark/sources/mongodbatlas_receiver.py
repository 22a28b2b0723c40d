"""MongoDB Atlas receiver parity (log path) — host log and audit log
decoding + the event→log-record translation.

Reference behavior (`receiver/mongodbatlasreceiver/`):

- decode (`log_decoder.go`): log files are gzip'd line streams
  (decompression is upstream in this repo's readers); 4.4+ clusters
  emit one JSON document per line (malformed lines logged+skipped;
  a type mismatch in any typed field fails Go's Unmarshal and skips
  the LINE), 4.2 clusters emit a console format matched by
  ``^(\\S+)\\s+(\\w+)\\s+([\\w-]+)\\s+\\[(\\S+)\\]\\s+(.*)$``
  (non-matching lines skipped); the raw line rides along as ``Raw``;
- translation (`mongodb_event_to_logdata.go:47-210`): resource attrs
  ``mongodb_atlas.{org,project,cluster,region.name,provider.name,
  host.name}``; per record: Body = the raw line, timestamp parsed
  with Go layout ``2006-01-02T15:04:05.000-07:00`` (4.2:
  ``...-0700`` — exactly 3 fractional digits, mandatory offset),
  severity via the F/E/W/I/D/D1-D5 table (D5→Debug4=8; unknown
  severities leave number/text UNSET), attributes = the entry's
  ``attr`` map + ``message``/``component``/``context`` +
  ``id`` (omitted on 4.2) + ``log_name``;
- audit translation (`:46-145`): severity pinned INFO/9, attrs
  ``atype``, optional local/remote ``ip,port,isSystemUser,unix``,
  ``uuid.binary``/``uuid.type``, ``result``, ``param`` map,
  ``users``/``roles`` arrays of {user|role, db}, ``log_name``.

Divergences (documented): a failed timestamp parse yields ts 0 (the
reference stores Go's zero-time UnixNano, a negative sentinel with
no portable meaning); non-string attribute values render to Go-JSON
bytes in the string-typed flat schema (same note as kafka/gcp
receivers); observed time is a pinned parameter.

Spark shape: one ``map_records`` pass.
"""

from __future__ import annotations

import json
import re
from datetime import datetime
from typing import Optional

from pyspark.sql import DataFrame

from ..datamodel import OBSERVED_LOG_SCHEMA
from ..functions.gofmt import go_json_value
from ..functions.records import as_text, map_records

__all__ = [
    "mongodb_audit_records",
    "mongodb_log_records",
    "parse_atlas_timestamp",
]

SEVERITY_MAP = {
    "F": 21, "E": 17, "W": 13, "I": 9, "D": 5,
    "D1": 5, "D2": 6, "D3": 7, "D4": 8, "D5": 8,
}

_CONSOLE_RE = re.compile(
    r"^(\S+)\s+(\w+)\s+([\w-]+)\s+\[(\S+)\]\s+(.*)$"
)
_JSON_TS = re.compile(
    r"^(\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2})\.(\d{3})([+-]\d{2}):(\d{2})$"
)
_CONSOLE_TS = re.compile(
    r"^(\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2})\.(\d{3})([+-]\d{2})(\d{2})$"
)


def parse_atlas_timestamp(date: str, version: str = "4.4") -> int:
    """Go ``time.Parse`` with the exact-3-fraction layouts
    (`mongodb_event_to_logdata.go:27-29,204-210`); 0 on failure
    (documented divergence from Go's zero-time sentinel)."""
    m = (_CONSOLE_TS if version == "4.2" else _JSON_TS).match(date or "")
    if not m:
        return 0
    base, millis, oh, om = m.groups()
    try:
        dt = datetime.strptime(base, "%Y-%m-%dT%H:%M:%S")
    except ValueError:
        return 0
    sign = 1 if oh[0] == "+" else -1
    offset = sign * (int(oh[1:]) * 3600 + int(om) * 60)
    import calendar

    epoch = calendar.timegm(dt.timetuple()) - offset
    return epoch * 1_000_000_000 + int(millis) * 1_000_000


def _render(v) -> str:
    return v if isinstance(v, str) else go_json_value(v).decode()


def _parse_json_entry(line: str) -> Optional[dict]:
    try:
        doc = json.loads(line)
    except ValueError:
        return None
    if not isinstance(doc, dict):
        return None
    ts = doc.get("t")
    date = ""
    if ts is not None:
        if not isinstance(ts, dict):
            return None
        date = ts.get("$date", "")
        if not isinstance(date, str):
            return None
    sev = doc.get("s", "")
    comp = doc.get("c", "")
    ctx = doc.get("ctx", "")
    msg = doc.get("msg", "")
    if not all(isinstance(x, str) for x in (sev, comp, ctx, msg)):
        return None
    lid = doc.get("id", 0)
    if isinstance(lid, bool) or not isinstance(lid, int):
        return None
    attr = doc.get("attr") or {}
    if not isinstance(attr, dict):
        return None
    return {
        "date": date, "severity": sev, "component": comp,
        "context": ctx, "message": msg, "id": lid, "attr": attr,
    }


def _parse_console_entry(line: str) -> Optional[dict]:
    m = _CONSOLE_RE.match(line)
    if not m:
        return None
    return {
        "date": m.group(1), "severity": m.group(2),
        "component": m.group(3), "context": m.group(4),
        "message": m.group(5), "id": 0, "attr": {},
    }


def _resource(org, project, cluster, region, provider, hostname) -> dict:
    return {
        "mongodb_atlas.org": org,
        "mongodb_atlas.project": project,
        "mongodb_atlas.cluster": cluster,
        "mongodb_atlas.region.name": region,
        "mongodb_atlas.provider.name": provider,
        "mongodb_atlas.host.name": hostname,
    }


def mongodb_log_records(
    df: DataFrame,
    org: str,
    project: str,
    cluster: str,
    region: str = "",
    provider: str = "",
    hostname: str = "",
    log_name: str = "mongodb.gz",
    version: str = "4.4",
    observed_ns: int = 0,
    line_col: str = "value",
) -> DataFrame:
    """Host log lines → flat records
    (`log_decoder.go` + `mongodb_event_to_logdata.go:147-201`)."""
    res = _resource(org, project, cluster, region, provider, hostname)
    is_42 = version == "4.2"

    def one(row: dict) -> list[dict]:
        line = as_text(row["value"])
        e = _parse_console_entry(line) if is_42 else _parse_json_entry(line)
        if e is None:
            return []
        sev_num = SEVERITY_MAP.get(e["severity"])
        attrs = {k: _render(v) for k, v in e["attr"].items()}
        attrs["message"] = e["message"]
        attrs["component"] = e["component"]
        attrs["context"] = e["context"]
        if not is_42:
            attrs["id"] = str(e["id"])
        attrs["log_name"] = log_name
        return [
            {
                "time_unix_nano": parse_atlas_timestamp(e["date"], version),
                "observed_time_unix_nano": observed_ns,
                "severity_number": sev_num or 0,
                "severity_text": e["severity"] if sev_num else "",
                "body": line,
                "attributes": attrs,
                "resource": res,
            }
        ]

    return map_records(df.select(df[line_col].alias("value")), one, OBSERVED_LOG_SCHEMA)


def mongodb_audit_records(
    df: DataFrame,
    org: str,
    project: str,
    cluster: str,
    region: str = "",
    provider: str = "",
    hostname: str = "",
    log_name: str = "mongodb-audit-log.gz",
    version: str = "4.4",
    observed_ns: int = 0,
    line_col: str = "value",
) -> DataFrame:
    """Audit log lines → flat records (severity pinned INFO,
    `mongodb_event_to_logdata.go:46-145`)."""
    res = _resource(org, project, cluster, region, provider, hostname)

    def record(line: str) -> Optional[dict]:
        try:
            doc = json.loads(line)
        except ValueError:
            return None
        if not isinstance(doc, dict):
            return None
        attrs: dict[str, str] = {"atype": str(doc.get("atype", ""))}
        for side in ("local", "remote"):
            a = doc.get(side) or {}
            if not isinstance(a, dict):
                return None
            if a.get("ip") is not None:
                attrs[f"{side}.ip"] = str(a["ip"])
            if a.get("port") is not None:
                attrs[f"{side}.port"] = str(int(a["port"]))
            if a.get("isSystemUser") is not None:
                attrs[f"{side}.isSystemUser"] = (
                    "true" if a["isSystemUser"] else "false"
                )
            if a.get("unix") is not None:
                attrs[f"{side}.unix"] = str(a["unix"])
        uuid = doc.get("uuid")
        if uuid is not None and not isinstance(uuid, dict):
            return None  # Go Unmarshal type mismatch skips the line
        if isinstance(uuid, dict):
            attrs["uuid.binary"] = str(uuid.get("$binary", ""))
            attrs["uuid.type"] = str(uuid.get("$type", ""))
        result = doc.get("result", 0)
        if isinstance(result, bool) or not isinstance(result, int):
            return None
        attrs["result"] = str(result)
        param = doc.get("param") or {}
        if not isinstance(param, dict):
            return None
        attrs["param"] = go_json_value(param).decode()
        users = doc.get("users") or []
        roles = doc.get("roles") or []
        if not all(isinstance(u, dict) for u in users) or not all(
            isinstance(r, dict) for r in roles
        ):
            return None
        attrs["users"] = go_json_value(
            [
                {"user": str(u.get("user", "")), "db": str(u.get("db", ""))}
                for u in users
            ]
        ).decode()
        attrs["roles"] = go_json_value(
            [
                {"role": str(r.get("role", "")), "db": str(r.get("db", ""))}
                for r in roles
            ]
        ).decode()
        attrs["log_name"] = log_name
        ts = doc.get("ts")
        if ts is not None and not isinstance(ts, dict):
            return None
        date = str(ts.get("$date", "")) if isinstance(ts, dict) else ""
        return {
            "time_unix_nano": parse_atlas_timestamp(date, version),
            "observed_time_unix_nano": observed_ns,
            "severity_number": 9,
            "severity_text": "INFO",
            "body": line,
            "attributes": attrs,
            "resource": res,
        }

    def one(row: dict) -> list[dict]:
        r = record(as_text(row["value"]))
        return [] if r is None else [r]

    return map_records(df.select(df[line_col].alias("value")), one, OBSERVED_LOG_SCHEMA)
