"""Azure Monitor (Application Insights) exporter parity (log path) —
log records → MessageData envelopes.

Reference behavior (`exporter/azuremonitorexporter/log_to_envelope.go`,
helpers `contracts_utils.go:13-70`, `time_utils.go:15-17`):

- envelope ``time`` = RFC 3339 Nano of the record timestamp, falling
  back to the observed timestamp, then now (pinned here);
- severity level buckets: 1-8 → Verbose(0), 9-12 → Information(1),
  13-16 → Warning(2), 17-20 → Error(3), 21-24 → Critical(4),
  anything else → Information(1);
- ``message`` = body.AsString(); envelope name
  ``Microsoft.ApplicationInsights.Message``; baseType ``MessageData``;
- tags: ``ai.operation.id`` / ``ai.operation.parentId`` = trace/span
  hex ("" when unset — the keys are ALWAYS set), ``ai.cloud.role`` =
  ``[service.namespace.]service.name`` (only when service.name
  exists), ``ai.cloud.roleInstance`` = service.instance.id,
  ``ai.internal.sdkVersion`` (pinned via param);
- properties: resource attributes via ``v.Str()`` — a NON-STRING
  resource value becomes the empty string (`contracts_utils.go:21`,
  quirk preserved; the flat schema is string-typed so it surfaces
  only for callers passing typed dicts), then
  ``instrumentationlibrary.name``/``.version`` when non-empty, then
  record attributes via ``AsString``;
- sanitization (ApplicationInsights-Go contracts): the message caps
  at 32768 chars, property keys at 150, property values at 8192, tag
  values at 512 except ``ai.operation.id``/``parentId`` (128) and
  ``ai.internal.sdkVersion`` (64) — the documented contract limits;
  this rebuild truncates exactly those (warnings are log-side in the
  reference and carry no data).

Spark shape: one ``map_records`` pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, types as T

from ..functions.gofmt import go_time_rfc3339nano
from ..functions.records import map_records

__all__ = ["azuremonitor_envelopes", "log_record_to_envelope"]

_TAG_LIMITS = {
    "ai.operation.id": 128,
    "ai.operation.parentId": 128,
    "ai.internal.sdkVersion": 64,
}


def _severity_level(sn: int) -> int:
    if 1 <= sn <= 8:
        return 0  # Verbose
    if 9 <= sn <= 12:
        return 1  # Information
    if 13 <= sn <= 16:
        return 2  # Warning
    if 17 <= sn <= 20:
        return 3  # Error
    if 21 <= sn <= 24:
        return 4  # Critical
    return 1


def log_record_to_envelope(
    rec: dict, sdk_version: str = "otelcol", now_ns: int = 0
) -> dict:
    """One flat record → the envelope fields
    (`log_to_envelope.go:21-57`)."""
    ts = int(rec.get("time_unix_nano") or 0)
    if ts == 0:
        ts = int(rec.get("observed_time_unix_nano") or 0)
    if ts == 0:
        ts = now_ns

    resource = dict(rec.get("resource") or {})
    props: dict[str, str] = {}
    for k, v in resource.items():
        props[str(k)[:150]] = (v if isinstance(v, str) else "")[:8192]
    if rec.get("scope_name"):
        props["instrumentationlibrary.name"] = str(rec["scope_name"])[:8192]
    if rec.get("scope_version"):
        props["instrumentationlibrary.version"] = str(
            rec["scope_version"]
        )[:8192]
    for k, v in dict(rec.get("attributes") or {}).items():
        props[str(k)[:150]] = str(v)[:8192]

    tags = {
        "ai.operation.id": str(rec.get("trace_id") or ""),
        "ai.operation.parentId": str(rec.get("span_id") or ""),
    }
    svc = resource.get("service.name")
    if svc is not None:
        role = svc if isinstance(svc, str) else ""
        ns = resource.get("service.namespace")
        if ns is not None:
            role = (ns if isinstance(ns, str) else "") + "." + role
        tags["ai.cloud.role"] = role
    inst = resource.get("service.instance.id")
    if inst is not None:
        tags["ai.cloud.roleInstance"] = (
            inst if isinstance(inst, str) else ""
        )
    tags["ai.internal.sdkVersion"] = sdk_version
    tags = {
        k: str(v)[: _TAG_LIMITS.get(k, 512)] for k, v in tags.items()
    }

    body = rec.get("body")
    return {
        "time": go_time_rfc3339nano(ts),
        "name": "Microsoft.ApplicationInsights.Message",
        "base_type": "MessageData",
        "severity_level": _severity_level(
            int(rec.get("severity_number") or 0)
        ),
        "message": ("" if body is None else str(body))[:32768],
        "tags": tags,
        "properties": props,
    }


_SCHEMA = T.StructType(
    [
        T.StructField("time", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("base_type", T.StringType()),
        T.StructField("severity_level", T.IntegerType()),
        T.StructField("message", T.StringType()),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
        T.StructField(
            "properties", T.MapType(T.StringType(), T.StringType())
        ),
    ]
)


def azuremonitor_envelopes(
    df: DataFrame, sdk_version: str = "otelcol", now_ns: int = 0
) -> DataFrame:
    """Flat log-record rows → Application Insights Message envelopes.
    Zero-shuffle."""
    return map_records(
        df, lambda rec: [log_record_to_envelope(rec, sdk_version, now_ns)], _SCHEMA
    )
