"""carbonexporter.

Reference semantics under test: `exporter/carbonexporter/
metricdata_to_plaintext.go` — number/histogram/summary line shapes,
Go float value ('f') and label ('g') formats, tag-key-only
sanitization quirk, empty-name/empty-value skips, receiver
round-trip."""

from opentelemetry_collector_contrib_spark.functions.gofmt import (
    go_format_float_f,
    go_format_float_g,
)
from opentelemetry_collector_contrib_spark.operators.carbon_exporter import (
    build_path,
    carbon_lines,
    sanitize_tag_key,
)

TS = 1704067200_000000000


def test_float_formats():
    assert go_format_float_f(2.0) == "2"
    assert go_format_float_f(1e21) == "1" + "0" * 21  # 'f' never scientific
    assert go_format_float_f(-0.0) == "-0"
    assert go_format_float_g(100000.0) == "100000"
    assert go_format_float_g(1000000.0) == "1e+06"
    assert go_format_float_g(0.0001) == "0.0001"
    assert go_format_float_g(0.00001) == "1e-05"
    assert go_format_float_g(float("inf")) == "+Inf"


def test_path_building_and_sanitization():
    assert build_path("m", None) == "m"
    assert build_path("m", {"k;bad=": "v", "ok": ""}) == "m;k_bad_=v;ok=<empty>"
    # tag VALUES are not sanitized (reference quirk)
    assert build_path("m", {"k": "a;b~c"}) == "m;k=a;b~c"
    assert sanitize_tag_key("a;b!c^d=e") == "a_b_c_d_e"


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_number_histogram_summary_lines(spark):
    df = _df(
        spark,
        [
            ("cpu", "gauge", TS, {"host": "h1"}, 42, None,
             None, None, None, None, None),
            ("mem", "sum", TS, None, None, 1.5,
             None, None, None, None, None),
            ("skipme", "gauge", TS, None, None, None,
             None, None, None, None, None),   # empty value skipped
            ("", "gauge", TS, None, 1, None,
             None, None, None, None, None),   # empty name skipped
            ("lat", "histogram", TS, {"svc": "a"}, None, None,
             7, 12.5, [0.5, 2.0], [3, 2, 2], None),
            ("rt", "summary", TS, None, None, None,
             4, 10.0, None, None,
             [{"quantile": 0.5, "value": 1.25}]),
        ],
        "metric_name string, metric_type string, time_unix_nano long, "
        "attributes map<string,string>, value_int long, value_double double, "
        "count long, sum double, bounds array<double>, "
        "bucket_counts array<long>, "
        "quantiles array<struct<quantile double, value double>>",
    )
    lines = sorted(r["line"] for r in carbon_lines(df).collect())
    sec = str(TS // 10**9)
    assert lines == sorted(
        [
            f"cpu;host=h1 42 {sec}",
            f"mem 1.5 {sec}",
            f"lat.count;svc=a 7 {sec}",
            f"lat;svc=a 12.5 {sec}",
            f"lat.bucket;svc=a;upper_bound=0.5 3 {sec}",
            f"lat.bucket;svc=a;upper_bound=2 2 {sec}",
            f"lat.bucket;svc=a;upper_bound=inf 2 {sec}",
            f"rt.count 4 {sec}",
            f"rt 10 {sec}",
            f"rt.quantile;quantile=50 1.25 {sec}",
        ]
    )


def test_roundtrip_through_carbon_receiver(spark):
    from opentelemetry_collector_contrib_spark.sources.carbon_receiver import (
        parse_carbon_line,
    )

    df = _df(
        spark,
        [("cpu.load", "gauge", TS, {"dc": "eu"}, None, 0.75,
          None, None, None, None, None)],
        "metric_name string, metric_type string, time_unix_nano long, "
        "attributes map<string,string>, value_int long, value_double double, "
        "count long, sum double, bounds array<double>, "
        "bucket_counts array<long>, "
        "quantiles array<struct<quantile double, value double>>",
    )
    line = carbon_lines(df).collect()[0]["line"]
    p = parse_carbon_line(line)
    assert p["name"] == "cpu.load" and p["attrs"] == {"dc": "eu"}
    assert p["double_value"] == 0.75 and p["ts_ns"] == TS
