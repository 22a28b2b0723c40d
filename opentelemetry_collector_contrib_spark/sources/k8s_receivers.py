"""k8sevents + k8sobjects receiver parity — Kubernetes API Event and
unstructured-object JSON → flat log records.

Reference behavior:

- k8seventsreceiver (`receiver/k8seventsreceiver/
  k8s_event_to_logdata.go:26-85`, ts preference `receiver.go:143-155`):
  one record per corev1.Event — resource attrs ``k8s.node.name``
  (Source.Host) + ``k8s.object.{kind,name,uid,fieldpath,api_version,
  resource_version}``; Body = Message; timestamp = EventTime else
  LastTimestamp else FirstTimestamp (zero stays 0); severity via
  lower(Type): normal→Info(9), warning→Warn(13), unknown → unset
  (text keeps the original casing when known); attrs
  ``k8s.event.{reason,action,start_time,name,uid}`` +
  ``k8s.namespace.name`` (InvolvedObject.Namespace) +
  ``k8s.event.count`` only when non-zero. ``k8s.event.start_time``
  is Go's ``metav1.Time.String()`` — rendered here as the same
  ``2006-01-02 15:04:05 +0000 UTC`` layout for UTC instants;
- k8sobjectsreceiver (`receiver/k8sobjectsreceiver/
  unstructured_to_logdata.go:19-90`): records group per namespace
  (resource attr ``k8s.namespace.name`` omitted when empty); attrs
  ``k8s.resource.name`` = the configured GVR resource; watch mode
  wraps the body as ``{"type": <watch type>, "object": {...}}`` and
  adds ``event.domain: k8s`` + ``event.name`` when the object's
  metadata name is non-empty; ObservedTimestamp = now (pinned).

Divergences (documented): the flat schema's body is the Go-JSON
rendering (sorted keys) of the pdata body map — pdata's FromRaw walks
a Go map whose order is runtime-random, so sorted keys are the only
deterministic pin; malformed JSON lines are skipped (the watch
decoder would error the stream).

Spark shape: one ``map_records`` pass.
"""

from __future__ import annotations

import json
from typing import Optional

from pyspark.sql import DataFrame

from ..datamodel import OBSERVED_LOG_SCHEMA
from ..functions.gofmt import go_json_value, go_time_string
from ..functions.records import as_text, map_records
from .azure_logs import iso8601_to_ns

__all__ = ["k8s_event_records", "k8s_object_records"]

_SEVERITY = {"normal": 9, "warning": 13}

def _ts_or_zero(s) -> int:
    if not s or not isinstance(s, str):
        return 0
    try:
        return iso8601_to_ns(s)
    except ValueError:
        return 0


def _metav1_string(ns: int) -> str:
    """``metav1.Time.String()``: ``time.Time.String()``, where a missing
    timestamp (0 here) is Go's zero time, not the Unix epoch."""
    return go_time_string(ns) if ns else "0001-01-01 00:00:00 +0000 UTC"


def _parse_event(line: str, observed_ns: int) -> Optional[dict]:
    try:
        ev = json.loads(line)
    except ValueError:
        return None
    if not isinstance(ev, dict):
        return None
    meta = ev.get("metadata") or {}
    inv = ev.get("involvedObject") or {}
    src = ev.get("source") or {}
    if not all(isinstance(x, dict) for x in (meta, inv, src)):
        return None
    resource = {
        "k8s.node.name": str(src.get("host", "") or ""),
        "k8s.object.kind": str(inv.get("kind", "") or ""),
        "k8s.object.name": str(inv.get("name", "") or ""),
        "k8s.object.uid": str(inv.get("uid", "") or ""),
        "k8s.object.fieldpath": str(inv.get("fieldPath", "") or ""),
        "k8s.object.api_version": str(inv.get("apiVersion", "") or ""),
        "k8s.object.resource_version": str(
            inv.get("resourceVersion", "") or ""
        ),
    }
    ts = (
        _ts_or_zero(ev.get("eventTime"))
        or _ts_or_zero(ev.get("lastTimestamp"))
        or _ts_or_zero(ev.get("firstTimestamp"))
    )
    ev_type = str(ev.get("type", "") or "")
    sev = _SEVERITY.get(ev_type.lower())
    count = ev.get("count") or 0
    attrs = {
        "k8s.event.reason": str(ev.get("reason", "") or ""),
        "k8s.event.action": str(ev.get("action", "") or ""),
        "k8s.event.start_time": _metav1_string(
            _ts_or_zero(meta.get("creationTimestamp"))
        ),
        "k8s.event.name": str(meta.get("name", "") or ""),
        "k8s.event.uid": str(meta.get("uid", "") or ""),
        "k8s.namespace.name": str(inv.get("namespace", "") or ""),
    }
    if isinstance(count, int) and not isinstance(count, bool) and count != 0:
        attrs["k8s.event.count"] = str(count)
    return {
        "time_unix_nano": ts,
        "observed_time_unix_nano": observed_ns,
        "severity_number": sev or 0,
        "severity_text": ev_type if sev else "",
        "body": str(ev.get("message", "") or ""),
        "attributes": attrs,
        "resource": resource,
    }


def k8s_event_records(
    df: DataFrame, observed_ns: int = 0, line_col: str = "value"
) -> DataFrame:
    """corev1.Event JSON lines → flat records. Zero-shuffle."""

    def one(row: dict) -> list[dict]:
        r = _parse_event(as_text(row["value"]), observed_ns)
        return [] if r is None else [r]

    return map_records(df.select(df[line_col].alias("value")), one, OBSERVED_LOG_SCHEMA)


def k8s_object_records(
    df: DataFrame,
    resource_name: str,
    mode: str = "pull",
    observed_ns: int = 0,
    line_col: str = "value",
    watch_type_col: str = "watch_type",
) -> DataFrame:
    """Unstructured-object JSON → flat records
    (`unstructured_to_logdata.go:19-90`). ``pull`` rows carry the
    object JSON; ``watch`` rows add a watch-event type column."""
    if mode not in ("pull", "watch"):
        raise ValueError("mode must be pull or watch")
    is_watch = mode == "watch"

    def one(row: dict) -> list[dict]:
        try:
            obj = json.loads(as_text(row["value"]))
        except ValueError:
            return []
        if not isinstance(obj, dict):
            return []
        meta = obj.get("metadata") or {}
        if not isinstance(meta, dict):
            return []
        namespace = str(meta.get("namespace", "") or "")
        resource = {"k8s.namespace.name": namespace} if namespace else {}
        attrs = {"k8s.resource.name": resource_name}
        if is_watch:
            name = str(meta.get("name", "") or "")
            if name:
                attrs["event.domain"] = "k8s"
                attrs["event.name"] = name
            body_obj = {"type": str(row[watch_type_col] or ""), "object": obj}
        else:
            body_obj = obj
        return [
            {
                "time_unix_nano": 0,
                "observed_time_unix_nano": observed_ns,
                "severity_number": 0,
                "severity_text": "",
                "body": go_json_value(body_obj).decode(),
                "attributes": attrs,
                "resource": resource,
            }
        ]

    cols = [df[line_col].alias("value")]
    if is_watch:
        cols.append(df[watch_type_col].alias(watch_type_col))
    return map_records(df.select(*cols), one, OBSERVED_LOG_SCHEMA)
