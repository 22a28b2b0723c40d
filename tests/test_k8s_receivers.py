"""k8sevents + k8sobjects receivers.

Reference semantics under test: `receiver/k8seventsreceiver/
k8s_event_to_logdata.go` + `receiver.go:143-155` (ts preference) and
`receiver/k8sobjectsreceiver/unstructured_to_logdata.go` (pull/watch
shapes, namespace resource, event.domain attrs)."""

import json

from opentelemetry_collector_contrib_spark.sources.k8s_receivers import (
    k8s_event_records,
    k8s_object_records,
)

TS = "2024-01-01T00:16:40Z"
TS_NS = (1704067200 + 1000) * 10**9


def _event(**over):
    d = {
        "metadata": {"name": "e1", "uid": "u-meta",
                     "creationTimestamp": TS},
        "involvedObject": {"kind": "Pod", "name": "p1", "uid": "u-obj",
                           "fieldPath": "spec.containers{c}",
                           "apiVersion": "v1", "resourceVersion": "42",
                           "namespace": "ns1"},
        "source": {"host": "node-1"},
        "type": "Warning", "reason": "Failed", "action": "Pulling",
        "message": "image pull failed", "count": 3,
        "lastTimestamp": TS,
    }
    d.update(over)
    return json.dumps(d)


def test_event_records(spark):
    df = spark.createDataFrame(
        [
            (_event(),),
            (_event(type="Unknown", count=0, lastTimestamp=None,
                    firstTimestamp=TS),),
            ("junk",),
        ],
        "value string",
    )
    rows = sorted(
        k8s_event_records(df, observed_ns=5).collect(),
        key=lambda r: r["severity_number"],
    )
    assert len(rows) == 2
    w = rows[1]
    assert w["severity_number"] == 13 and w["severity_text"] == "Warning"
    assert w["time_unix_nano"] == TS_NS
    assert w["body"] == "image pull failed"
    assert w["resource"]["k8s.node.name"] == "node-1"
    assert w["resource"]["k8s.object.kind"] == "Pod"
    assert w["resource"]["k8s.object.resource_version"] == "42"
    assert w["attributes"]["k8s.event.reason"] == "Failed"
    assert w["attributes"]["k8s.event.start_time"] == \
        "2024-01-01 00:16:40 +0000 UTC"
    assert w["attributes"]["k8s.namespace.name"] == "ns1"
    assert w["attributes"]["k8s.event.count"] == "3"

    u = rows[0]
    assert u["severity_number"] == 0 and u["severity_text"] == ""
    assert u["time_unix_nano"] == TS_NS  # firstTimestamp fallback
    assert "k8s.event.count" not in u["attributes"]


def test_event_time_preference(spark):
    micro = "2024-01-01T00:16:40.123456Z"
    df = spark.createDataFrame(
        [(_event(eventTime=micro),)], "value string"
    )
    r = k8s_event_records(df).collect()[0]
    assert r["time_unix_nano"] == TS_NS + 123456000  # eventTime wins


def test_event_without_creation_time_is_go_zero_time(spark):
    # metav1.Time{}.String(): Go's zero time, not the Unix epoch
    df = spark.createDataFrame(
        [(_event(metadata={"name": "e1", "uid": "u"}),)], "value string"
    )
    r = k8s_event_records(df).collect()[0]
    assert r["attributes"]["k8s.event.start_time"] == \
        "0001-01-01 00:00:00 +0000 UTC"


def test_object_records_pull_and_watch(spark):
    obj = {"kind": "ConfigMap",
           "metadata": {"name": "cm1", "namespace": "ns2"},
           "data": {"a": "1"}}
    pull = k8s_object_records(
        spark.createDataFrame([(json.dumps(obj),)], "value string"),
        resource_name="configmaps", observed_ns=9,
    ).collect()[0]
    assert pull["resource"] == {"k8s.namespace.name": "ns2"}
    assert pull["attributes"] == {"k8s.resource.name": "configmaps"}
    assert json.loads(pull["body"])["kind"] == "ConfigMap"
    assert pull["observed_time_unix_nano"] == 9

    watch = k8s_object_records(
        spark.createDataFrame(
            [(json.dumps(obj), "ADDED")],
            "value string, watch_type string",
        ),
        resource_name="configmaps", mode="watch",
    ).collect()[0]
    body = json.loads(watch["body"])
    assert body["type"] == "ADDED" and body["object"]["kind"] == "ConfigMap"
    assert watch["attributes"]["event.domain"] == "k8s"
    assert watch["attributes"]["event.name"] == "cm1"

    # empty namespace → no resource attr
    no_ns = k8s_object_records(
        spark.createDataFrame(
            [(json.dumps({"metadata": {"name": "x"}}),)], "value string"
        ),
        resource_name="nodes",
    ).collect()[0]
    assert no_ns["resource"] == {}
