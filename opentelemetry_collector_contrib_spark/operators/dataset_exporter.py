"""DataSet (Scalyr) exporter parity (log path) — log records →
AddEvents event bundles.

Reference behavior (`exporter/datasetexporter/logs_exporter.go`,
helpers `datasetexporter.go:89-168`, defaults `config.go:21-59`):

- severity (``Event.sev``): SeverityNumber buckets 1-4→1 (trace),
  5-8→2, 9-12→3, 13-16→4, 17-20→5, 21-24→6; number 0 falls back to
  the lower-cased SeverityText table (fine/finest→0, trace→1,
  debug→2, info/information→3, warn/warning→4, error→5,
  fatal/critical/emergency→6); default 3 (INFO);
- ``Event.ts`` = decimal ns when the timestamp isn't the epoch,
  else the observed timestamp, else now (pinned here);
- attrs: ``message`` = body.AsString() when non-empty (an optional
  decompose mode flattens map bodies with a prefix),
  ``dropped_attributes_count`` when > 0, ``sca:observedTime``
  (decimal ns) when observed is set, ``span_id``/``trace_id`` when
  non-empty; resource attributes flattened under
  ``resource.attributes.`` when export_resource_info_on_event (off
  by default); ``scope.name`` + scope attrs when
  export_scope_info_on_event (ON by default); then the record's own
  attributes flattened at top level;
- flattening (`updateWithPrefixedValues`): maps recurse with
  ``<prefix><sep><key>`` (no separator at depth 0), arrays index as
  keys; a key collision appends the distinguishing suffix ``_``
  (repeatedly) — LAST value wins the base key in the reference; the
  separator default is ``.``;
- ``serverHost`` (`inferServerHost`): the flattened event attr
  ``serverHost`` wins, then resource ``serverHost`` / ``host.name``,
  then the exporter's own server host; ``Event.Log`` = "LL",
  ``Event.Thread`` = "TL".

Spark shape: one ``map_records`` pass; flattened attrs render
into the string-typed flat schema via Go-JSON for non-strings
(documented, same note as the other receivers/exporters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, types as T

from ..functions.gofmt import go_json_value
from ..functions.records import map_records

__all__ = [
    "build_dataset_event",
    "dataset_events",
    "map_severity_number",
    "map_severity_text",
]

_TEXT_SEVERITY = {
    "fine": 0, "finest": 0, "trace": 1, "debug": 2,
    "info": 3, "information": 3, "warn": 4, "warning": 4,
    "error": 5, "fatal": 6, "critical": 6, "emergency": 6,
}


def map_severity_number(num: int) -> int:
    if 1 <= num <= 24:
        return min((num - 1) // 4 + 1, 6)
    return 3


def map_severity_text(text: str) -> int:
    return _TEXT_SEVERITY.get(text.lower(), 3)


def _build_key(prefix: str, separator: str, key: str, depth: int) -> str:
    res = prefix
    if depth > 0 and prefix:
        res += separator
    return res + key


def update_with_prefixed_values(
    target: dict, prefix: str, separator: str, suffix: str, source,
    depth: int = 0,
) -> None:
    """`datasetexporter.go:98-140` — recursive flatten with
    collision-suffix; last value wins the base key."""
    if isinstance(source, dict):
        for k, v in source.items():
            update_with_prefixed_values(
                target, _build_key(prefix, separator, str(k), depth),
                separator, suffix, v, depth + 1,
            )
        return
    if isinstance(source, (list, tuple)):
        for i, v in enumerate(source):
            update_with_prefixed_values(
                target, _build_key(prefix, separator, str(i), depth),
                separator, suffix, v, depth + 1,
            )
        return
    while prefix in target and suffix:
        prefix += suffix
    target[prefix] = source


def build_dataset_event(
    rec: dict,
    server_host: str = "",
    export_resource_info: bool = False,
    export_scope_info: bool = True,
    export_resource_prefix: str = "resource.attributes.",
    export_scope_prefix: str = "scope.attributes.",
    separator: str = ".",
    suffix: str = "_",
    now_ns: int = 0,
) -> dict:
    """One flat record → the DataSet event dict
    (`logs_exporter.go:168-243`)."""
    attrs: dict = {}
    sev_num = int(rec.get("severity_number") or 0)
    sev_text = str(rec.get("severity_text") or "")
    if sev_num > 0:
        sev = map_severity_number(sev_num)
    elif sev_text:
        sev = map_severity_text(sev_text)
    else:
        sev = 3

    ts_ns = int(rec.get("time_unix_nano") or 0)
    observed = int(rec.get("observed_time_unix_nano") or 0)
    ts = str(ts_ns) if ts_ns != 0 else ""

    body = rec.get("body")
    if body is not None and str(body) != "":
        attrs["message"] = str(body)
    dropped = int(rec.get("dropped_attributes_count") or 0)
    if dropped > 0:
        attrs["dropped_attributes_count"] = dropped
    if observed != 0:
        attrs["sca:observedTime"] = str(observed)
    if rec.get("span_id"):
        attrs["span_id"] = str(rec["span_id"])
    if rec.get("trace_id"):
        attrs["trace_id"] = str(rec["trace_id"])

    if not ts:
        ts = str(observed) if observed != 0 else str(now_ns)

    resource = dict(rec.get("resource") or {})
    if export_resource_info:
        update_with_prefixed_values(
            attrs, export_resource_prefix, separator, suffix, resource
        )
    if export_scope_info:
        if rec.get("scope_name"):
            attrs["scope.name"] = str(rec["scope_name"])
        update_with_prefixed_values(
            attrs, export_scope_prefix, separator, suffix,
            dict(rec.get("scope_attributes") or {}),
        )
    update_with_prefixed_values(
        attrs, "", separator, suffix, dict(rec.get("attributes") or {})
    )

    host = ""
    v = attrs.get("serverHost")
    if v is not None and str(v):
        host = str(v)
    if not host:
        for key in ("serverHost", "host.name"):
            if resource.get(key):
                host = str(resource[key])
                break
    if not host:
        host = server_host

    return {
        "ts": ts,
        "sev": sev,
        "server_host": host,
        "log_id": "LL",
        "thread_id": "TL",
        "attrs": {
            k: (v if isinstance(v, str) else go_json_value(v).decode())
            for k, v in attrs.items()
        },
    }


_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.StringType()),
        T.StructField("sev", T.IntegerType()),
        T.StructField("server_host", T.StringType()),
        T.StructField("log_id", T.StringType()),
        T.StructField("thread_id", T.StringType()),
        T.StructField("attrs", T.MapType(T.StringType(), T.StringType())),
    ]
)


def dataset_events(df: DataFrame, **opts) -> DataFrame:
    """Flat log-record rows → DataSet events. Zero-shuffle."""
    return map_records(df, lambda rec: [build_dataset_event(rec, **opts)], _SCHEMA)
