"""splunkhecexporter marshaling parity — per-record Splunk HEC event
JSON, as a DataFrame.

Reference behavior (`exporter/splunkhecexporter/logdata_to_splunk.go` +
`internal/splunk/common.go`):

- metadata lift: ``host.name`` → host (default ``"unknown"``),
  ``com.splunk.source`` → source, ``com.splunk.sourcetype`` →
  sourcetype, ``com.splunk.index`` → index — resource attributes first,
  record attributes override (both Range loops assign,
  `logdata_to_splunk.go:51-84`); the ``com.splunk.hec.access_token``
  attribute is consumed by routing, never serialized;
- fields: ``span_id``/``trace_id`` hex (when non-empty), the severity
  text/number under ``otel.log.severity.text`` / ``.number`` (when
  set), then every remaining resource+record attribute — nested maps
  flatten to dotted keys, arrays stay arrays when flat and JSON-
  stringify when nested (`logdata_to_splunk.go:38-49,108-152`);
- event = body (``""`` when nil); time = nanoseconds rounded to
  milliseconds, as epoch seconds (`logdata_to_splunk.go:86-104`);
- the Event struct serializes in field order time, host, source,
  sourcetype, index, event, fields with omitempty on time (0 = "let
  Splunk stamp it"), source, sourcetype, index, fields; host and event
  always present (`internal/splunk/common.go:43-51`); the HEC request
  body is the events' JSON concatenated back-to-back
  (`client.go:687-698`).

Deliberate divergence: the reference marshals the ``fields`` map with
jsoniter ConfigDefault, which inherits Go's RANDOMIZED map iteration
order — byte-nondeterministic across runs. The rebuild pins sorted key
order (a valid serialization of the same event; deterministic reruns
are a repo invariant). String escaping matches encoding/json/jsoniter
(HTML escapes on — the kafka module's ``go_json_string``).

Spark shape: PURE MAP (one ``map_records`` pass), zero exchanges; at 100 TB the
sink composes into any scan stage, and the reference's
batchperresourceattr-by-[token, index] splitting (`factory.go:195`) is
the existing `grouping.batch_per_attr_writes` keyed on
``com.splunk.index``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from ..functions.gofmt import go_json_string, go_json_value
from ..functions.records import map_records

__all__ = ["map_record_to_hec_event", "hec_events"]

_UNKNOWN_HOST = "unknown"
_HOST_KEY = "host.name"
_SOURCE_KEY = "com.splunk.source"
_SOURCETYPE_KEY = "com.splunk.sourcetype"
_INDEX_KEY = "com.splunk.index"
_TOKEN_KEY = "com.splunk.hec.access_token"
_SEV_TEXT_FIELD = "otel.log.severity.text"
_SEV_NUM_FIELD = "otel.log.severity.number"


def _num(x: float) -> str:
    """Go/jsoniter shortest non-exponent float rendering for epoch
    times: integral values print without a fraction."""
    if x == int(x):
        return str(int(x))
    return repr(x)


def _is_flat(arr) -> bool:
    return all(not isinstance(v, (list, tuple, dict)) for v in arr)


def _merge_value(fields: dict, key: str, v) -> None:
    """mergeValue (`logdata_to_splunk.go:108-152`)."""
    if isinstance(v, dict):
        for k, vv in v.items():
            _merge_value(fields, f"{key}.{k}", vv)
    elif isinstance(v, (list, tuple)):
        if _is_flat(v):
            fields[key] = list(v)
        else:
            fields[key] = (
                go_json_value(list(v)).decode("utf-8")
            )
    else:
        fields[key] = v


def _as_int(v) -> int:
    """None / pandas-NaN (what a filled-in missing column yields in the
    Arrow batch) / numeric → int; NaN is truthy so `v or 0` won't do."""
    if v is None or v != v:
        return 0
    return int(v)


def map_record_to_hec_event(
    rec: dict,
    *,
    source: str = "",
    sourcetype: str = "",
    index: str = "",
) -> dict:
    """One flat record → the splunk.Event dict
    (`logdata_to_splunk.go:26-101`); config source/sourcetype/index are
    the fallbacks the attribute lift overrides."""
    host, src, st, idx = _UNKNOWN_HOST, source, sourcetype, index
    fields: dict = {}
    sid = rec.get("span_id") or ""
    if sid and set(sid) != {"0"}:
        fields["span_id"] = sid
    tid = rec.get("trace_id") or ""
    if tid and set(tid) != {"0"}:
        fields["trace_id"] = tid
    if rec.get("severity_text"):
        fields[_SEV_TEXT_FIELD] = rec["severity_text"]
    if _as_int(rec.get("severity_number")):
        fields[_SEV_NUM_FIELD] = _as_int(rec["severity_number"])
    for attrs in (rec.get("resource") or {}, rec.get("attributes") or {}):
        for k, v in dict(attrs).items():
            if k == _HOST_KEY:
                host = str(v)
            elif k == _SOURCE_KEY:
                src = str(v)
            elif k == _SOURCETYPE_KEY:
                st = str(v)
            elif k == _INDEX_KEY:
                idx = str(v)
            elif k == _TOKEN_KEY:
                pass
            else:
                _merge_value(fields, k, v)
    body = rec.get("body")
    ns = _as_int(rec.get("time_unix_nano"))
    # round ns to ms, then express as epoch seconds
    ms = (ns + 500_000) // 1_000_000
    return {
        "time": ms / 1000.0,
        "host": host,
        "source": src,
        "sourcetype": st,
        "index": idx,
        "event": "" if body is None else body,
        "fields": fields,
    }


def marshal_hec_event(ev: dict) -> bytes:
    """splunk.Event JSON in struct field order with its omitempty set
    (`common.go:43-51`); fields map key-sorted (see module docstring)."""
    parts = []
    if ev["time"]:
        parts.append(b'"time":' + _num(ev["time"]).encode())
    parts.append(b'"host":' + go_json_string(str(ev["host"])))
    if ev["source"]:
        parts.append(b'"source":' + go_json_string(str(ev["source"])))
    if ev["sourcetype"]:
        parts.append(b'"sourcetype":' + go_json_string(str(ev["sourcetype"])))
    if ev["index"]:
        parts.append(b'"index":' + go_json_string(str(ev["index"])))
    parts.append(b'"event":' + go_json_value(ev["event"]))
    if ev["fields"]:
        parts.append(b'"fields":' + go_json_value(ev["fields"]))
    return b"{" + b",".join(parts) + b"}"


_HEC_SCHEMA = T.StructType(
    [
        T.StructField("index", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("value", T.StringType()),
    ]
)

_REC_COLS = (
    "time_unix_nano",
    "severity_number",
    "severity_text",
    "body",
    "attributes",
    "resource",
    "trace_id",
    "span_id",
)


def hec_events(
    df: DataFrame,
    *,
    source: str = "",
    sourcetype: str = "",
    index: str = "",
) -> DataFrame:
    """Flat log records → HEC event rows (index, host, value) where
    ``value`` is the event JSON; a request body is a partition's values
    concatenated (the POST boundary). PURE MAP, zero exchanges. ``index``
    rides along so `grouping.batch_per_attr_writes` can split requests
    per index, mirroring batchperresourceattr-by-[token, index]."""
    work = df
    for c in _REC_COLS:
        if c not in df.columns:
            work = work.withColumn(
                c,
                F.lit("") if c in ("severity_text", "body", "trace_id",
                                   "span_id")
                else F.lit(None).cast(
                    "map<string,string>" if c in ("attributes", "resource")
                    else "long"
                ),
            )

    def one(rec: dict) -> list[dict]:
        rec["attributes"] = dict(rec.get("attributes") or {})
        rec["resource"] = dict(rec.get("resource") or {})
        ev = map_record_to_hec_event(
            rec, source=source, sourcetype=sourcetype, index=index
        )
        return [
            {
                "index": ev["index"],
                "host": ev["host"],
                "value": marshal_hec_event(ev).decode("utf-8"),
            }
        ]

    return map_records(work.select(*_REC_COLS), one, _HEC_SCHEMA)
