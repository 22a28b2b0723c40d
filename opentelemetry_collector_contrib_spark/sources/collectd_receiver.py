"""collectdreceiver parity — collectd JSON write_http payloads into
typed datapoint rows.

Reference behavior (`receiver/collectdreceiver/collectd.go`):

- a request body is a JSON ARRAY of records; per record, datapoint i
  exists for every index valid in dsnames/dstypes/values with a
  non-null value (`:62-99`);
- records that are EVENTS (time+severity+message all present) are
  ignored (`:40-42,64-67`);
- metric name = ``type[.type_instance][.dsname]`` where the
  type_instance first has collectd ``[k=v]`` blocks extracted
  (`internal/collectd/labels.go`) — extracted pairs become attributes
  only when absent; the dsname joins the NAME only when the record has
  more than one dsname, otherwise it becomes a ``dsname`` attribute
  (`:151-195`);
- the label map is built up ACROSS the record's datapoints (one shared
  map mutated in the loop: plugin, parsed plugin_instance/host — whose
  bracket blocks also extract — then dsname) and each datapoint's
  attributes are a SNAPSHOT of it at creation time (`:69-99,108-114`)
  — later datapoints inherit labels added by earlier ones, faithfully
  replicated here;
- dstype derive/counter → monotonic sum ("cumulative"), anything else
  → gauge (`:140-151`); values are ``json.Number``: int64-first,
  float64 fallback (`:127-133`), replicated by parsing the JSON with
  number literals kept as raw strings;
- timestamp = ``time.Unix(0, int64(t × 1e9))`` (float seconds,
  truncating) or 0 when absent (`:45-52`);
- default attributes come from query parameters bearing the configured
  prefix, stripped of it (`receiver.go:145-160`) — the ``default_attrs``
  kwarg here.

Spark shape: one ``map_records`` pass; malformed JSON raises (the
server responds 400 and consumes nothing).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame

from ..datamodel import DATAPOINT_SCHEMA
from ..functions.gofmt import go_parse_int
from ..functions.records import as_text, map_records
from .wavefront_receiver import labels_from_name

__all__ = ["collectd_datapoints", "parse_collectd_body"]


def _add_if(m: dict, key: str, val) -> None:
    if val:
        m[key] = val


def _parse_name_for_labels(labels: dict, key: str, val) -> None:
    """parseNameForLabels (`collectd.go:215-224`): bracket blocks extract
    first-wins, the stripped name lands under ``key``."""
    name, dims = labels_from_name(val) if val else ("", {})
    for k, v in dims.items():
        if k not in labels:
            _add_if(labels, k, v)
    _add_if(labels, key, name)


def _metric_name(rec: dict, index: int, labels: dict) -> tuple[str, bool]:
    """getReasonableMetricName + pointTypeInstance (`collectd.go:151-195`)."""
    parts = ""
    if rec.get("type"):
        parts = rec["type"]
    ti = rec.get("type_instance")
    if ti:
        instance_name, dims = labels_from_name(ti)
        if instance_name:
            parts = f"{parts}.{instance_name}" if parts else instance_name
        for k, v in dims.items():
            if k not in labels:
                _add_if(labels, k, v)
    used_dsname = False
    dsnames = rec.get("dsnames") or []
    if dsnames and dsnames[index] and len(dsnames) > 1:
        parts = f"{parts}.{dsnames[index]}" if parts else dsnames[index]
        used_dsname = True
    return parts, used_dsname


def parse_collectd_body(body: str, default_attrs: dict | None = None) -> list[dict]:
    """One write_http body → datapoint dicts (`collectd.go:62-148`)."""
    records = json.loads(body, parse_int=str, parse_float=str)
    if not isinstance(records, list):
        raise ValueError("collectd payload must be a JSON array")
    out: list[dict] = []
    for rec in records:
        if not isinstance(rec, dict):
            raise ValueError("collectd record must be a JSON object")
        if (
            rec.get("time") is not None
            and rec.get("severity") is not None
            and rec.get("message") is not None
        ):
            continue  # event, not a datapoint
        labels = dict(default_attrs or {})
        t = rec.get("time")
        ts_ns = int(float(t) * 1e9) if t is not None else 0
        dsnames = rec.get("dsnames") or []
        dstypes = rec.get("dstypes") or []
        values = rec.get("values") or []
        for i in range(len(dsnames)):
            if i >= len(dstypes) or i >= len(values) or values[i] is None:
                continue
            name, used_dsname = _metric_name(rec, i, labels)
            _add_if(labels, "plugin", rec.get("plugin"))
            _parse_name_for_labels(
                labels, "plugin_instance", rec.get("plugin_instance")
            )
            _parse_name_for_labels(labels, "host", rec.get("host"))
            if not used_dsname:
                _add_if(labels, "dsname", dsnames[i])
            raw = str(values[i])
            int_val = go_parse_int(raw)
            dbl_val = None if int_val is not None else float(raw)
            kind = (
                "cumulative"
                if dstypes[i] in ("derive", "counter")
                else "gauge"
            )
            out.append(
                {
                    "name": name,
                    "kind": kind,
                    "is_int": int_val is not None,
                    "int_value": int_val,
                    "double_value": dbl_val,
                    "ts_ns": ts_ns,
                    "attrs": dict(labels),  # snapshot (setAttributes copy)
                }
            )
    return out


def collectd_datapoints(
    df: DataFrame,
    value_col: str = "value",
    *,
    default_attrs: dict[str, str] | None = None,
) -> DataFrame:
    """collectd JSON body DataFrame → typed datapoint rows, zero-shuffle."""
    src = df.select(df[value_col].alias("value"))

    return map_records(
        src,
        lambda row: parse_collectd_body(as_text(row["value"]), default_attrs),
        DATAPOINT_SCHEMA,
    )
