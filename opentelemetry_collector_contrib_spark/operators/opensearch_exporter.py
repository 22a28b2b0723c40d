"""OpenSearch exporter parity (log path) — SS4O documents, the Log
Data Model fallback, index naming, and bulk action lines.

Reference behavior (`exporter/opensearchexporter/`):

- SS4O mode (`encoder.go:54-99`, model `sso_model.go:63-83`): one
  JSON document per record in the ``ssoRecord`` struct field order
  ``attributes, body, instrumentationScope, observedTimestamp,
  resource, schemaUrl, severity, spanId, @timestamp, traceId`` —
  ``attributes``/``resource``/``schemaUrl``/``spanId``/``traceId``
  omitempty (pdata zero ids render ""), ``severity`` and
  ``instrumentationScope`` always present (struct omitempty is a
  no-op) with their inner fields omitempty, ``@timestamp`` and
  ``observedTimestamp`` always present (set pointers);
  ``observedTimestamp`` is ``time.Now()`` — pinned via
  ``observed_ns`` here. When dataset/namespace are configured a
  ``data_stream`` object (``dataset, namespace, type:"record"``) is
  injected INTO the record's attributes (`encoder.go:77-88`).
  Timestamps render as Go ``time.Time`` JSON: RFC 3339 UTC with the
  nanosecond fraction's trailing zeros trimmed.
- Log Data Model mode (`encoder.go:103-141`): the shared objmodel
  document — resource attributes under ``Attributes`` (or flattened
  at top level in flatten_attributes mode), ``@timestamp`` (or the
  configured field; epoch-ms integer in unix_time mode), TraceId /
  SpanId / TraceFlags / SeverityText / SeverityNumber / Body, record
  attributes, then Dedup / Sort / dedot exactly as the ES exporter's
  objmodel (reused here — same `internal/objmodel` package upstream).
- index naming (`sso_log_exporter.go:81-87`): explicit logs_index
  wins, else ``ss4o_logs-<dataset>-<namespace>``.
- bulk lines: one action line ``{"<action>":{"_index":"<index>"}}``
  per document (opensearchutil BulkIndexer with configured
  ``bulk_action`` create|index), NDJSON-paired with the document.

Spark shape: one ``map_records`` pass; the bulk NDJSON body is
two string columns per record (action + document), concatenated at
the sink boundary like the ES exporter's bulk writer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, types as T

from ..functions.gofmt import go_json_value, go_time_rfc3339nano
from ..functions.records import map_records
from .es_exporter import Doc, Ts

__all__ = [
    "encode_log_data_model",
    "get_index_name",
    "opensearch_bulk_lines",
    "sso_log_record",
]


def get_index_name(
    dataset: str = "default", namespace: str = "namespace",
    logs_index: str = "",
) -> str:
    """`sso_log_exporter.go:81-87`."""
    if logs_index:
        return logs_index
    return "-".join(["ss4o_logs", dataset, namespace])


def _struct_json(pairs: list[tuple[str, bytes]]) -> bytes:
    return (
        b"{"
        + b",".join(b'"' + k.encode() + b'":' + v for k, v in pairs)
        + b"}"
    )


def sso_log_record(
    rec: dict,
    dataset: str = "",
    namespace: str = "",
    schema_url: str = "",
    observed_ns: int = 0,
) -> str:
    """One flat record → the SS4O document JSON (`encoder.go:54-99`)."""
    attrs = dict(rec.get("attributes") or {})
    if dataset or namespace:
        ds: dict = {}
        if dataset:
            ds["dataset"] = dataset
        if namespace:
            ds["namespace"] = namespace
        ds["type"] = "record"
        attrs["data_stream"] = ds

    pairs: list[tuple[str, bytes]] = []
    if attrs:
        pairs.append(("attributes", go_json_value(attrs)))
    body = rec.get("body")
    pairs.append(("body", go_json_value("" if body is None else str(body))))

    scope_pairs: list[tuple[str, bytes]] = []
    if rec.get("scope_attributes"):
        scope_pairs.append(
            ("attributes", go_json_value(dict(rec["scope_attributes"])))
        )
    if rec.get("scope_name"):
        scope_pairs.append(("name", go_json_value(rec["scope_name"])))
    if schema_url:
        scope_pairs.append(("schemaUrl", go_json_value(schema_url)))
    if rec.get("scope_version"):
        scope_pairs.append(("version", go_json_value(rec["scope_version"])))
    pairs.append(("instrumentationScope", _struct_json(scope_pairs)))

    pairs.append(
        (
            "observedTimestamp",
            go_json_value(go_time_rfc3339nano(observed_ns)),
        )
    )
    if rec.get("resource"):
        pairs.append(("resource", go_json_value(dict(rec["resource"]))))
    if schema_url:
        pairs.append(("schemaUrl", go_json_value(schema_url)))

    sev_pairs: list[tuple[str, bytes]] = []
    if rec.get("severity_text"):
        sev_pairs.append(("text", go_json_value(rec["severity_text"])))
    if rec.get("severity_number"):
        sev_pairs.append(
            ("number", str(int(rec["severity_number"])).encode())
        )
    pairs.append(("severity", _struct_json(sev_pairs)))

    if rec.get("span_id"):
        pairs.append(("spanId", go_json_value(rec["span_id"])))
    ts_ns = int(rec.get("time_unix_nano") or 0)
    pairs.append(("@timestamp", go_json_value(go_time_rfc3339nano(ts_ns))))
    if rec.get("trace_id"):
        pairs.append(("traceId", go_json_value(rec["trace_id"])))
    return _struct_json(pairs).decode("utf-8")


def encode_log_data_model(
    rec: dict,
    flatten_attributes: bool = False,
    timestamp_field: str = "",
    unix_time: bool = False,
    dedup: bool = False,
    dedot: bool = False,
) -> str:
    """Log Data Model encoding (`encoder.go:103-141`) via the shared
    objmodel document (reused from the ES exporter — upstream both
    import the same `internal/objmodel`)."""
    doc = Doc()
    resource = dict(rec.get("resource") or {})
    if flatten_attributes:
        doc.add_attributes("", resource)
    else:
        doc.add_attributes("Attributes", resource)
    ts_field = timestamp_field or "@timestamp"
    ts_ns = int(rec.get("time_unix_nano") or 0)
    if unix_time:
        doc.add_int(ts_field, ts_ns // 1_000_000)
    else:
        doc.add(ts_field, Ts(ts_ns))
    doc.add_id("TraceId", rec.get("trace_id") or "")
    doc.add_id("SpanId", rec.get("span_id") or "")
    doc.add_int("TraceFlags", int(rec.get("flags") or 0))
    doc.add_string("SeverityText", rec.get("severity_text") or "")
    doc.add_int("SeverityNumber", int(rec.get("severity_number") or 0))
    doc.add_attribute("Body", rec.get("body"))
    attrs = dict(rec.get("attributes") or {})
    if flatten_attributes:
        doc.add_attributes("", attrs)
    else:
        doc.add_attributes("Attributes", attrs)
    if dedup:
        doc.dedup()
    elif dedot:
        doc.sort()
    return doc.serialize(dedot)


_BULK_SCHEMA = T.StructType(
    [
        T.StructField("index", T.StringType()),
        T.StructField("action_line", T.StringType()),
        T.StructField("document", T.StringType()),
    ]
)


def opensearch_bulk_lines(
    df: DataFrame,
    dataset: str = "default",
    namespace: str = "namespace",
    logs_index: str = "",
    bulk_action: str = "create",
    mode: str = "ss4o",
    schema_url: str = "",
    observed_ns: int = 0,
    **model_opts,
) -> DataFrame:
    """Flat log-record rows → (index, action_line, document) NDJSON
    pairs. Zero-shuffle."""
    if bulk_action not in ("create", "index"):
        raise ValueError("bulk_action must be create or index")
    index = get_index_name(dataset, namespace, logs_index)
    action = '{"%s":{"_index":"%s"}}' % (bulk_action, index)
    sso = mode == "ss4o"
    ds = dataset if sso else ""
    ns_ = namespace if sso else ""

    def one(rec: dict) -> list[dict]:
        if sso:
            doc = sso_log_record(rec, ds, ns_, schema_url, observed_ns)
        else:
            doc = encode_log_data_model(rec, **model_opts)
        return [{"index": index, "action_line": action, "document": doc}]

    return map_records(df, one, _BULK_SCHEMA)
