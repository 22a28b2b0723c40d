"""honeycombmarkerexporter + logicmonitorexporter (log paths).

Reference semantics under test:
`exporter/honeycombmarkerexporter/logs_exporter.go:79-140` (OTTL
match → marker POST map, sorted-key JSON, __all__ slug default) and
`exporter/logicmonitorexporter/logs_exporter.go:64-140` (ts chain,
hostname→system.hostname duplication)."""

import json

from opentelemetry_collector_contrib_spark.operators.honeycomb_marker_exporter import (
    Marker,
    honeycomb_markers,
)
from opentelemetry_collector_contrib_spark.operators.logicmonitor_exporter import (
    lm_log_inputs,
)

TS = 1704067200_000000000


def test_honeycomb_markers(spark):
    df = spark.createDataFrame(
        [
            (TS, "deploy started", 9, {"message": "m<1>", "url": "http://x"}),
            (TS, "nothing", 9, {"message": "m2"}),
            (TS, "deploy done", 17, None),
        ],
        "time_unix_nano long, body string, severity_number int, "
        "attributes map<string,string>",
    )
    rows = honeycomb_markers(
        df,
        [
            Marker(
                type="deploy",
                rules=['IsMatch(body, "deploy.*")'],
                dataset_slug="prod",
            ),
            Marker(type="errors", rules=["severity_number >= 17"]),
        ],
    ).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["marker_type"], []).append(r)
    assert len(by_type["deploy"]) == 2
    assert by_type["deploy"][0]["url_path"] == "/1/markers/prod"
    # sorted-key map JSON with attribute lifts; HTML-escaped
    bodies = sorted(r["request_json"] for r in by_type["deploy"])
    assert bodies[0] == (
        '{"message":"m\\u003c1\\u003e","type":"deploy","url":"http://x"}'
    )
    assert bodies[1] == '{"type":"deploy"}'
    # default slug
    assert by_type["errors"][0]["dataset_slug"] == "__all__"
    assert by_type["errors"][0]["request_json"] == '{"type":"errors"}'


def test_lm_log_inputs(spark):
    df = spark.createDataFrame(
        [
            (TS, "b1", {"hostname": "h1", "team": "x"}, {"k": "v"}),
            (0, "b2", None, None),
        ],
        "time_unix_nano long, body string, "
        "resource map<string,string>, attributes map<string,string>",
    )
    rows = {r["message"]: r for r in
            lm_log_inputs(df, now_ns=TS + 10**9).collect()}
    r1 = rows["b1"]
    assert r1["timestamp"] == "2024-01-01 00:00:00 +0000 UTC"
    assert r1["resource_map"] == {
        "hostname": "h1", "system.hostname": "h1", "team": "x",
    }
    assert r1["metadata"] == {"k": "v"}
    assert rows["b2"]["timestamp"] == "2024-01-01 00:00:01 +0000 UTC"
    # no timestamp anywhere: pcommon.Timestamp(0).String() is the epoch
    r0 = lm_log_inputs(df.where("time_unix_nano = 0")).collect()[0]
    assert r0["timestamp"] == "1970-01-01 00:00:00 +0000 UTC"
