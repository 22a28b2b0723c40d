"""Metric-state processors + syslog/jsonarray parsers."""

import datetime

import pytest
from pyspark.sql import Row

from opentelemetry_collector_contrib_spark.operators import metrics as M
from opentelemetry_collector_contrib_spark.operators.parse import (
    jsonarray_parser,
    syslog_parser,
)


@pytest.fixture(scope="module")
def points(spark):
    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    for s, deltas in [("a", [1, 2, 3, 4]), ("b", [10, 20, 30, 40])]:
        for i, d in enumerate(deltas):
            rows.append(Row(stream=s, ts=t0 + datetime.timedelta(minutes=30 * i), v=float(d)))
    return spark.createDataFrame(rows, "stream string, ts timestamp, v double")


class TestMetricState:
    def test_delta_to_cumulative(self, points):
        out = M.delta_to_cumulative(points, ["stream"], "ts", "v")
        a = [r.cumulative for r in out.filter("stream='a'").orderBy("ts").collect()]
        assert a == [1, 3, 6, 10]

    def test_cumulative_to_delta_roundtrip(self, points):
        cum = M.delta_to_cumulative(points, ["stream"], "ts", "v")
        back = M.cumulative_to_delta(cum, ["stream"], "ts", "cumulative")
        rows = back.filter("stream='b'").orderBy("ts").collect()
        assert rows[0].delta is None  # first point has no predecessor
        assert [r.delta for r in rows[1:]] == [20, 30, 40]

    def test_delta_to_rate(self, points):
        out = M.delta_to_rate(points, ["stream"], "ts", "v")
        rows = out.filter("stream='a'").orderBy("ts").collect()
        assert rows[0].rate_per_s is None
        assert rows[1].rate_per_s == pytest.approx(2 / 1800)

    def test_interval_last(self, points):
        out = M.interval_last(points, ["stream"], "ts", "1 hour")
        rows = out.filter("stream='a'").orderBy("window_start").collect()
        assert len(rows) == 2  # 4 half-hourly points → 2 hour windows
        assert [r.v for r in rows] == [2.0, 4.0]  # last value in each window

    def test_histogram(self, points):
        out = M.histogram_buckets(points, ["stream"], "v", [2.0, 15.0])
        r = {x.stream: x for x in out.collect()}
        assert r["a"].le_2_0 == 2 and r["a"].le_15_0 == 4 and r["a"].le_inf == 4
        assert r["b"].le_2_0 == 0 and r["b"].le_15_0 == 1 and r["b"].value_sum == 100


class TestSyslog:
    def test_rfc3164(self, spark):
        df = spark.createDataFrame(
            [Row(line="<34>Oct 11 22:14:15 mymachine su[123]: 'su root' failed")],
            "line string",
        )
        r = syslog_parser(df, protocol="rfc3164").collect()[0]
        assert (r.facility, r.syslog_severity) == (4, 2)
        assert r.host == "mymachine" and r.tag == "su" and r.pid == "123"
        assert r.msg == "'su root' failed"
        assert str(r.ts) == "2024-10-11 22:14:15"

    def test_rfc3164_absent_parts_are_null(self, spark):
        """No [pid] and an empty MSG leave those fields null, not ""."""
        df = spark.createDataFrame(
            [Row(line="<13>Feb  5 17:32:18 host app: hello"),
             Row(line="<13>Feb  5 17:32:18 host app:")],
            "line string",
        )
        a, b = syslog_parser(df, protocol="rfc3164").orderBy("msg").collect()
        assert (a.tag, a.pid, a.msg) == ("app", None, None)
        assert (b.tag, b.pid, b.msg) == ("app", None, "hello")
        assert str(b.ts) == "2024-02-05 17:32:18"

    def test_rfc5424(self, spark):
        df = spark.createDataFrame(
            [Row(line='<165>1 2024-08-16T20:32:24Z host app 1234 ID47 - hello world')],
            "line string",
        )
        r = syslog_parser(df, protocol="rfc5424").collect()[0]
        assert (r.facility, r.syslog_severity) == (20, 5)
        assert r.app == "app" and r.msg == "hello world"
        assert r.ts is not None

    def test_jsonarray(self, spark):
        df = spark.createDataFrame([Row(line='[{"a":1},{"a":2}]')], "line string")
        r = jsonarray_parser(df, "struct<a:int>", "line").collect()[0]
        assert [x.a for x in r.parsed] == [1, 2]


def test_expo_histogram_scale0_buckets(spark):
    from opentelemetry_collector_contrib_spark.operators.metrics import (
        expo_histogram,
    )

    df = spark.createDataFrame(
        [("a", v) for v in [0, 1, 2, 3, 4, 5, 8, 9, 16, 100]],
        "k string, v int",
    )
    rows = {r.bucket_idx: r for r in expo_histogram(df, ["k"], "v").collect()}
    # zero bucket
    assert rows[-99].cnt == 1
    # (1/2,1] -> -1 ; (1,2] -> 0 ; (2,4] -> 1 ; (4,8] -> 2 ; (8,16] -> 3 ; (64,128] -> 6
    assert rows[-1].cnt == 1 and rows[-1].bucket_min == 1
    assert rows[0].cnt == 1 and rows[0].bucket_max == 2
    assert rows[1].cnt == 2 and (rows[1].bucket_min, rows[1].bucket_max) == (3, 4)
    assert rows[2].cnt == 2 and (rows[2].bucket_min, rows[2].bucket_max) == (5, 8)
    assert rows[3].cnt == 2 and (rows[3].bucket_min, rows[3].bucket_max) == (9, 16)
    assert rows[6].cnt == 1 and rows[6].bucket_min == 100
    # spec invariant 2^k < v <= 2^(k+1) for every non-zero bucket
    for k, r in rows.items():
        if k in (-99,):
            continue
        assert 2 ** k < r.bucket_min and r.bucket_max <= 2 ** (k + 1)
