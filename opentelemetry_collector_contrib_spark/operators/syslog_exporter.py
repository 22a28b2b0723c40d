"""syslogexporter formatting parity — RFC 5424 / RFC 3164 message
rendering (the inverse of the syslog_parser operator), as a DataFrame.

Reference behavior (`exporter/syslogexporter/`):

- field sources are log-record ATTRIBUTES named ``priority`` /
  ``version`` / ``hostname`` / ``appname`` / ``proc_id`` / ``msg_id`` /
  ``structured_data`` / ``message``, each with a default when absent —
  priority 165, version 1, ``-`` for the RFC 5424 header fields, empty
  message (`sender.go:16-32`, `formatter.go:23-28`);
- RFC 5424: ``<pri>ver ts host app pid msgid sd[ msg]\\n`` with the
  timestamp as Go RFC3339Nano (UTC → ``Z``, trailing fraction zeros
  trimmed, whole seconds bare) and the message prefixed by a space only
  when non-empty (`rfc5424_formatter.go:25-41,99-105`); structured data
  renders the ``structured_data`` MAP attribute through Go's
  ``fmt.Sprint([]string)`` — i.e. ``[id k="v" ...]``, one id followed by
  its ``k="v"`` pairs per element (`rfc5424_formatter.go:74-97`);
- octet counting prefixes ``len(formatted) `` (length INCLUDING the
  trailing newline, `rfc5424_formatter.go:37-39`);
- RFC 3164: ``<pri>Jan 02 15:04:05 host app:[ ]msg\\n`` — zero-padded
  day (the reference's Go layout ``Jan 02``, not the RFC's space-padded
  day) and the app/message delimiter only when both present
  (`rfc3164_formatter.go:20-32,38-40`).

Deliberate divergence: Go's map iteration makes multi-element
structured data byte-nondeterministic in the reference; the rebuild
renders sd elements and their params in sorted-key order (same set,
deterministic reruns — the splunk-fields pin).

The sender half (`sender.go`, TCP/TLS framing) is the socket boundary:
rendering is the data property, tested byte-for-byte AND round-tripped
back through this repo's ``syslog_parser`` (parse(render(x)) == x); a
cluster POSTs a partition's lines over one socket per task.

Spark shape: PURE MAP, zero exchanges.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame, functions as F, types as T

from ..functions.gofmt import go_time_rfc3339nano
from ..functions.records import map_records

__all__ = ["format_rfc5424", "format_rfc3164", "syslog_lines"]

_DEFAULT_PRIORITY = 165
_VERSION_RFC5424 = 1
_EMPTY = "-"


def _attr(attrs: dict, name: str, default: str) -> str:
    v = attrs.get(name)
    return default if v is None else str(v)


def _structured_data(attrs: dict) -> str:
    """`rfc5424_formatter.go:74-97`: the ``structured_data`` map attr →
    ``fmt.Sprint`` of [id, k="v", ...] elements; non-map values and
    non-string params are skipped. Element/param order sorted here (Go
    map order is random — see module docstring)."""
    sd = attrs.get("structured_data")
    if not isinstance(sd, dict):
        return _EMPTY
    elements = []
    for sd_id in sorted(sd, key=str):
        elements.append(str(sd_id))
        params = sd[sd_id]
        if not isinstance(params, dict):
            continue
        for k in sorted(params, key=str):
            v = params[k]
            if not isinstance(v, str):
                continue
            elements.append(f'{k}="{v}"')
    return "[" + " ".join(elements) + "]"


def format_rfc5424(rec: dict, octet_counting: bool = False) -> str:
    """`rfc5424_formatter.go:25-41`."""
    attrs = dict(rec.get("attributes") or {})
    pri = _attr(attrs, "priority", str(_DEFAULT_PRIORITY))
    ver = _attr(attrs, "version", str(_VERSION_RFC5424))
    ts = go_time_rfc3339nano(int(rec.get("time_unix_nano") or 0))
    host = _attr(attrs, "hostname", _EMPTY)
    app = _attr(attrs, "appname", _EMPTY)
    pid = _attr(attrs, "proc_id", _EMPTY)
    msgid = _attr(attrs, "msg_id", _EMPTY)
    sd = _structured_data(attrs)
    msg = _attr(attrs, "message", "")
    if msg:
        msg = " " + msg
    line = f"<{pri}>{ver} {ts} {host} {app} {pid} {msgid} {sd}{msg}\n"
    if octet_counting:
        line = f"{len(line.encode('utf-8'))} {line}"
    return line


_MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun",
           "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")


def format_rfc3164(rec: dict) -> str:
    """`rfc3164_formatter.go:20-32` — incl. the reference's zero-padded
    day layout ``Jan 02`` and the conditional app/message delimiter.
    Month names are Go's fixed English abbreviations, not the
    locale-dependent ``%b``."""
    attrs = dict(rec.get("attributes") or {})
    pri = _attr(attrs, "priority", str(_DEFAULT_PRIORITY))
    sec = int(rec.get("time_unix_nano") or 0) // 1_000_000_000
    dt = datetime.fromtimestamp(sec, tz=timezone.utc)
    ts = f"{_MONTHS[dt.month - 1]} {dt.day:02d} " + dt.strftime("%H:%M:%S")
    host = _attr(attrs, "hostname", _EMPTY)
    app = _attr(attrs, "appname", "")
    if app:
        app += ":"
    msg = _attr(attrs, "message", "")
    delim = " " if app and msg != "" else ""
    return f"<{pri}>{ts} {host} {app}{delim}{msg}\n"


def syslog_lines(
    df: DataFrame, protocol: str = "rfc5424", octet_counting: bool = False,
    keep: tuple = (),
) -> DataFrame:
    """Flat log records → rendered syslog lines (``value`` string,
    newline included — the exact bytes `sender.go` writes per record).
    PURE MAP, zero exchanges. ``keep`` names input columns to carry
    through alongside ``value`` (e.g. an ordering key for stream
    assembly)."""
    if protocol not in ("rfc5424", "rfc3164"):
        raise ValueError(f"unknown syslog protocol {protocol!r}")
    work = df
    if "attributes" not in df.columns:
        work = work.withColumn(
            "attributes", F.lit(None).cast("map<string,string>")
        )

    def one(row: dict) -> list[dict]:
        rec = {
            "time_unix_nano": row["time_unix_nano"],
            "attributes": dict(row["attributes"] or {}),
        }
        line = (
            format_rfc5424(rec, octet_counting)
            if protocol == "rfc5424"
            else format_rfc3164(rec)
        )
        return [{**{c: row[c] for c in keep}, "value": line}]

    schema = T.StructType(
        [work.schema[c] for c in keep] + [T.StructField("value", T.StringType())]
    )
    cols = list(dict.fromkeys([*keep, "time_unix_nano", "attributes"]))
    return map_records(work.select(*cols), one, schema)
