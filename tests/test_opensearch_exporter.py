"""opensearchexporter (log path).

Reference semantics under test: `exporter/opensearchexporter/
encoder.go` (SS4O record field order + omitempty + data_stream
injection; Log Data Model objmodel fallback with dedup/dedot/
flatten/unix_time), `sso_log_exporter.go:81-87` (index naming),
Go time.Time RFC 3339 nano-trimmed rendering."""

import json

from opentelemetry_collector_contrib_spark.functions.gofmt import (
    go_time_rfc3339nano,
    go_time_string,
)
from opentelemetry_collector_contrib_spark.operators.opensearch_exporter import (
    encode_log_data_model,
    get_index_name,
    opensearch_bulk_lines,
    sso_log_record,
)

TS = 1704067200_000000000


def test_go_time_rendering():
    assert go_time_rfc3339nano(TS) == "2024-01-01T00:00:00Z"
    assert go_time_rfc3339nano(TS + 5) == "2024-01-01T00:00:00.000000005Z"
    assert go_time_rfc3339nano(TS + 123000000) == "2024-01-01T00:00:00.123Z"
    assert go_time_rfc3339nano(0) == "1970-01-01T00:00:00Z"


def test_go_time_string():
    assert go_time_string(TS) == "2024-01-01 00:00:00 +0000 UTC"
    assert go_time_string(TS + 120) == "2024-01-01 00:00:00.00000012 +0000 UTC"
    # pcommon.Timestamp(0).String() is the Unix epoch (a zero metav1.Time
    # is Go's zero time instead: test_k8s_receivers)
    assert go_time_string(0) == "1970-01-01 00:00:00 +0000 UTC"


def test_index_name():
    assert get_index_name() == "ss4o_logs-default-namespace"
    assert get_index_name("d", "n") == "ss4o_logs-d-n"
    assert get_index_name("d", "n", "my-index") == "my-index"


def test_sso_record_field_order_and_omitempty():
    doc = sso_log_record(
        {
            "time_unix_nano": TS,
            "body": "hello",
            "severity_text": "Info",
            "severity_number": 9,
            "trace_id": "ab" * 16,
            "span_id": "cd" * 8,
            "attributes": {"k": "v"},
            "resource": {"team": "core"},
            "scope_name": "lib",
            "scope_version": "1.0",
        },
        dataset="ds", namespace="ns", schema_url="https://s",
        observed_ns=TS + 1,
    )
    assert doc == (
        '{"attributes":{"data_stream":{"dataset":"ds","namespace":"ns",'
        '"type":"record"},"k":"v"},'
        '"body":"hello",'
        '"instrumentationScope":{"name":"lib","schemaUrl":"https://s",'
        '"version":"1.0"},'
        '"observedTimestamp":"2024-01-01T00:00:00.000000001Z",'
        '"resource":{"team":"core"},'
        '"schemaUrl":"https://s",'
        '"severity":{"text":"Info","number":9},'
        '"spanId":"' + "cd" * 8 + '",'
        '"@timestamp":"2024-01-01T00:00:00Z",'
        '"traceId":"' + "ab" * 16 + '"}'
    )
    # minimal record: empty attrs/resource omitted, severity/{} and
    # scope/{} stay, zero ids dropped upstream (empty string here)
    minimal = sso_log_record({"body": ""}, observed_ns=TS)
    assert minimal == (
        '{"body":"",'
        '"instrumentationScope":{},'
        '"observedTimestamp":"2024-01-01T00:00:00Z",'
        '"severity":{},'
        '"@timestamp":"1970-01-01T00:00:00Z"}'
    )


def test_log_data_model_modes():
    rec = {
        "time_unix_nano": TS,
        "body": "b",
        "severity_text": "Info",
        "severity_number": 9,
        "flags": 1,
        "trace_id": "ab" * 16,
        "attributes": {"z": "1", "a": "2"},
        "resource": {"r": "x"},
    }
    flat = encode_log_data_model(rec)
    d = json.loads(flat)
    assert d["Attributes.r"] == "x" and d["Attributes.z"] == "1"
    assert d["@timestamp"] == "2024-01-01T00:00:00.000000000Z"
    assert d["TraceId"] == "ab" * 16 and "SpanId" not in d
    # unix_time + custom field
    d2 = json.loads(
        encode_log_data_model(rec, timestamp_field="ts", unix_time=True)
    )
    assert d2["ts"] == TS // 10**6
    # flatten mode puts resource+record attrs at top level
    d3 = json.loads(encode_log_data_model(rec, flatten_attributes=True))
    assert d3["r"] == "x" and d3["a"] == "2"
    # dedot nests dotted keys
    d4 = json.loads(encode_log_data_model(rec, dedot=True))
    assert d4["Attributes"]["r"] == "x"


def test_bulk_lines_spark(spark):
    df = spark.createDataFrame(
        [(TS, "m1", {"k": "v"}), (TS + 10**9, "m2", None)],
        "time_unix_nano long, body string, attributes map<string,string>",
    )
    rows = opensearch_bulk_lines(
        df, dataset="d", namespace="n", observed_ns=TS
    ).collect()
    assert all(
        r["action_line"] == '{"create":{"_index":"ss4o_logs-d-n"}}'
        for r in rows
    )
    docs = sorted(json.loads(r["document"])["body"] for r in rows)
    assert docs == ["m1", "m2"]
    # index action + explicit index name
    rows2 = opensearch_bulk_lines(
        df, logs_index="logs-x", bulk_action="index", observed_ns=TS
    ).collect()
    assert rows2[0]["action_line"] == '{"index":{"_index":"logs-x"}}'
