"""Unit tests for the parser family (SURVEY §2.2)."""

import re

import pyarrow as pa
import pyarrow.compute as pc
import pytest
from pyspark.sql import Row, functions as F
from pyspark.sql import types as T

from opentelemetry_collector_contrib_spark.operators import parse as P
from opentelemetry_collector_contrib_spark.operators.grouping import (
    group_by_attrs,
    load_balance,
    resource_detection,
)
from opentelemetry_collector_contrib_spark.sources.render import LINE_PATTERN, render_lines
from opentelemetry_collector_contrib_spark.sources.tokengen import tokens_df


@pytest.fixture(scope="module")
def raw(spark):
    rows = [
        Row(line='{"a": 1, "b": "x"}', csvline="1,foo,2.5", kv="k1=v1 k2=v2",
            url="https://example.com:8443/p/q?x=1&y=2", epoch="1704067200",
            iso="2024-01-01 12:30:45", hexid="0102030405060708"),
    ]
    return spark.createDataFrame(rows)


def test_json_parser(spark, raw):
    out = P.json_parser(raw, "a INT, b STRING", "line").collect()[0]
    assert out.parsed.a == 1 and out.parsed.b == "x"


def test_csv_parser(raw):
    out = P.csv_parser(raw, "i INT, s STRING, d DOUBLE", "csvline").collect()[0]
    assert (out.parsed.i, out.parsed.s, out.parsed.d) == (1, "foo", 2.5)


def test_key_value_parser(raw):
    out = P.key_value_parser(raw, "kv", "m").collect()[0]
    assert out.m == {"k1": "v1", "k2": "v2"}


def test_uri_parser(raw):
    out = P.uri_parser(raw, "url").collect()[0]
    assert out.uri_scheme == "https"
    assert out.uri_host == "example.com"
    assert out.uri_path == "/p/q"
    assert out.uri_query == "x=1&y=2"


def test_time_parser_epoch_and_strptime(raw):
    out = P.time_parser(raw, "epoch", layout="s", layout_type="epoch").collect()[0]
    assert str(out.ts) == "2024-01-01 00:00:00"
    out2 = P.time_parser(raw, "iso", layout="yyyy-MM-dd HH:mm:ss", parse_to="t2").collect()[0]
    assert str(out2.t2) == "2024-01-01 12:30:45"
    for unit, val in [("ms", "1704067200000"), ("us", "1704067200000000")]:
        df = raw.withColumn("e", F.lit(val))
        got = P.time_parser(df, "e", layout=unit, layout_type="epoch").collect()[0]
        assert str(got.ts) == "2024-01-01 00:00:00"


def test_trace_parser(raw):
    out = P.trace_parser(raw, "hexid", None).collect()[0]
    assert out.trace_id == bytes([1, 2, 3, 4, 5, 6, 7, 8])


def test_regex_parser_drop_mode(spark):
    df = spark.createDataFrame(
        [Row(line="num=5"), Row(line="garbage")], "line string"
    )
    sent = P.regex_parser(df, r"num=(?P<n>\d+)", on_error="send").collect()
    assert len(sent) == 2 and {r.n for r in sent} == {"5", None}
    dropped = P.regex_parser(df, r"num=(?P<n>\d+)", on_error="drop").collect()
    assert len(dropped) == 1 and dropped[0].n == "5"


def _parsed(df, pattern, on_error, key):
    """(key, *named groups) rows of one regex_parser run, ordered by key."""
    names = list(re.compile(pattern).groupindex)
    out = P.regex_parser(df, pattern, on_error=on_error)
    return sorted((tuple(r) for r in out.select(key, *names).collect()), key=lambda r: r[0])


def _re2_parsed(df, pattern, on_error, key):
    """The same rows computed on the driver by RE2 (``pc.extract_regex``),
    the reference the JVM groups must equal; extract_regex refuses unnamed
    groups, so they are made non-capturing."""
    rows = df.select(key, "line").collect()
    re2 = P._rewrite(pattern, {"(": "(?:"})
    got = pc.extract_regex(pa.array([r[1] for r in rows], pa.string()), re2)
    names = list(re.compile(pattern).groupindex)
    out = [
        (r[0], *(None if g is None else g[n] for n in names))
        for r, g in zip(rows, got.to_pylist())
        if g is not None or not on_error.startswith("drop")
    ]
    return sorted(out, key=lambda r: r[0])


def _matched(rows):
    return [r for r in rows if any(v is not None for v in r[1:])]


def test_regex_parser_jvm_matches_re2_on_rendered_lines(spark):
    """The JVM groups equal RE2's cell by cell on all seven LINE_PATTERN
    groups, malformed lines included."""
    lines = render_lines(tokens_df(spark, 2000, num_partitions=4), out="line").cache()
    malformed = lines.filter(F.col("line").startswith("MALFORMED")).count()
    assert malformed > 0
    runs = {}
    for on_error in ("send", "drop"):
        runs[on_error] = _parsed(lines, LINE_PATTERN, on_error, "doc_id")
        assert runs[on_error] == _re2_parsed(lines, LINE_PATTERN, on_error, "doc_id"), on_error
    lines.unpersist()
    assert len(runs["send"]) == 2000
    assert runs["drop"] == _matched(runs["send"])
    assert len(runs["drop"]) == 2000 - malformed


# (pattern, line, named groups) where java.util.regex and RE2 could part ways
REGEX_EDGES = [
    (r"num=(?P<n>\d+)", "garbage", (None,)),  # no match: every group null
    (r"num=(?P<n>\d+)", None, (None,)),  # null input
    (r"num=(?P<n>\d*)", "num=", ("",)),  # a group that matched nothing
    (r"^(?P<tag>\w+)(?:\[(?P<pid>\d+)\])?:", "su: x", ("su", "")),  # no part in the match
    (r"^(?P<tag>\w+)(?:\[(?P<pid>\d+)\])?:", "su[12]: x", ("su", "12")),
    (r"(\w+)=(?P<v>\d+)", "k=5", ("5",)),  # an unnamed group before a named one
    (r"^x (?P<v>.+)$", "x a\n", (None,)),  # RE2's $ is the end of the text only
    (r"^x (?P<v>.+)$", "x a", ("a",)),
    (r"^x (?P<v>.+)$", "x a\r", ("a\r",)),  # . matches \r
]


def test_regex_parser_jvm_matches_re2_on_edges(spark):
    """The JVM groups equal RE2's for every edge pattern over every edge
    line, in both on_error modes; the cells are pinned per edge."""
    lines = sorted({e[1] for e in REGEX_EDGES}, key=str)
    df = spark.createDataFrame(list(enumerate(lines)), "id int, line string")
    sent = {}
    for pattern in dict.fromkeys(e[0] for e in REGEX_EDGES):
        for on_error in ("send", "drop"):
            jvm = _parsed(df, pattern, on_error, "id")
            assert jvm == _re2_parsed(df, pattern, on_error, "id"), (pattern, on_error)
            sent[pattern, on_error] = jvm
        assert sent[pattern, "drop"] == _matched(sent[pattern, "send"])
        assert len(sent[pattern, "send"]) == len(lines)
    for pattern, line, want in REGEX_EDGES:
        got = {lines[r[0]]: r[1:] for r in sent[pattern, "send"]}
        assert got[line] == want, (pattern, line)
    with pytest.raises(ValueError):
        P.regex_parser(df, r"(?m)^x (?P<v>.+)$")


def test_time_parser_error_modes(spark):
    df = spark.createDataFrame([Row(t="garbage")], "t string")
    out = P.time_parser(df, "t", layout="yyyy-MM-dd").collect()[0]
    assert out.ts is None  # on_error=send → null
    import pytest as _pt

    with _pt.raises(Exception):  # propagate = ErrorMode propagate (task fails)
        P.time_parser(df, "t", layout="yyyy-MM-dd", on_error="propagate").collect()


def test_severity_custom_mapping(spark):
    from opentelemetry_collector_contrib_spark.functions.severity import attach_severity

    df = spark.createDataFrame([Row(level="oops"), Row(level="warn")], "level string")
    out = attach_severity(df, "level", custom=[("oops", "error2", 18)])
    got = {r.level: (r.severity_text, r.severity_number) for r in out.collect()}
    assert got["oops"] == ("error2", 18)
    assert got["warn"] == ("warn", 13)


def test_severity_custom_alias_listed_twice(spark):
    """An alias that ``custom`` names twice takes its later entry, and
    every input row stays one output row."""
    from opentelemetry_collector_contrib_spark.functions.severity import attach_severity

    df = spark.createDataFrame([Row(level="oops"), Row(level="OOPS")], "level string")
    out = attach_severity(df, "level", custom=[("oops", "error2", 18), ("oops", "fatal", 21)])
    got = [(r.level, r.severity_text, r.severity_number) for r in out.collect()]
    assert sorted(got) == [("OOPS", "fatal", 21), ("oops", "fatal", 21)]


def test_grouping_ops(spark):
    df = spark.createDataFrame(
        [Row(id=i, attributes={"host": f"h{i % 3}"}) for i in range(30)],
        "id long, attributes map<string,string>",
    )
    g = group_by_attrs(df, ["host"])
    assert "host" in g.columns and g.count() == 30
    r = resource_detection(df, {"cloud.provider": "aws", "region": "us-1"})
    assert r.collect()[0]["cloud.provider"] == "aws"
    lb = load_balance(df, "id", 4)
    backends = {x.backend for x in lb.collect()}
    assert backends.issubset(set(range(4))) and len(backends) > 1
    # determinism
    lb2 = {(x.id, x.backend) for x in load_balance(df, "id", 4).collect()}
    assert {(x.id, x.backend) for x in lb.collect()} == lb2


def test_time_parser_gotime_layout(spark):
    """layout_type=gotime accepts Go reference-time layouts
    (operator/helper/time.go) — the collector's native flavor."""
    import datetime
    from opentelemetry_collector_contrib_spark.operators.parse import gotime_to_spark

    assert gotime_to_spark("2006-01-02 15:04:05") == "yyyy-MM-dd HH:mm:ss"
    assert gotime_to_spark("Jan 2 15:04:05") == "MMM d HH:mm:ss"
    assert gotime_to_spark("2006-01-02T15:04:05.000") == "yyyy-MM-dd'T'HH:mm:ss.SSS"

    df = spark.createDataFrame([("2024-02-03 13:04:05",)], "t string")
    out = P.time_parser(df, "t", layout="2006-01-02 15:04:05",
                        layout_type="gotime", parse_to="ts").collect()[0]
    assert out.ts == datetime.datetime(2024, 2, 3, 13, 4, 5)
    # strptime %-directives convert too
    out2 = P.time_parser(df, "t", layout="%Y-%m-%d %H:%M:%S",
                         parse_to="ts").collect()[0]
    assert out2.ts == out.ts


def test_xml_parser_and_xpath(spark):
    """from_xml struct parse + xpath extraction (func_parse_xml.go analog);
    attributes address as _name fields."""
    df = spark.createDataFrame(
        [('<log sev="err"><msg>boom</msg><code>7</code></log>',),
         ("<log><msg>no attrs</msg></log>",),
         ("not xml at all",)],
        "x string",
    )
    out = P.xml_parser(df, "msg string, code int, _sev string", "x").collect()
    assert out[0].parsed.msg == "boom"
    assert out[0].parsed.code == 7
    assert out[0].parsed._sev == "err"
    assert out[1].parsed.msg == "no attrs" and out[1].parsed._sev is None
    assert out[2].parsed is None or out[2].parsed.msg is None  # malformed → null

    xp = P.xml_xpath(df, "x", {"m": "/log/msg", "s": "/log/@sev"}).collect()
    assert xp[0].m == "boom" and xp[0].s == "err"


def test_ottl_parse_xml_converter(spark):
    from opentelemetry_collector_contrib_spark.ottl import compile_statement

    df = spark.createDataFrame([("<e><v>42</v></e>",)], "body string")
    got = compile_statement(df, 'set(parsed, ParseXML(body, "v int"))').collect()[0]
    assert got.parsed.v == 42


def test_gotime_unsupported_directives():
    """operator/helper/time.go gotime layouts: space-padded _2/__2 and
    lowercase pm have no Spark pattern equivalent -> loud ValueError, not a
    silent null parse; 002 (day-of-year) maps to DDD."""
    import pytest

    from opentelemetry_collector_contrib_spark.operators.parse import gotime_to_spark

    for bad in ("Jan _2 15:04:05", "__2 15:04", "3:04pm"):
        with pytest.raises(ValueError, match="not representable"):
            gotime_to_spark(bad)
    assert gotime_to_spark("2006-002") == "yyyy-DDD"
    assert gotime_to_spark("3:04PM") == "h:mma"


def test_journald_parser(spark):
    from opentelemetry_collector_contrib_spark.operators.parse import journald_parser

    line = (
        '{"__CURSOR":"s=1;i=9","__REALTIME_TIMESTAMP":"1700000000123456",'
        '"PRIORITY":"4","MESSAGE":"hello","_PID":"42"}'
    )
    df = spark.createDataFrame([(line,)], "line string")
    r = journald_parser(df, "line").collect()[0]
    assert r.ts_unix_us == 1700000000123456
    assert r.cursor == "s=1;i=9"
    assert r.body["MESSAGE"] == "hello"
    assert r.body["_PID"] == "42"
    assert "__REALTIME_TIMESTAMP" not in r.body  # deleted (input.go:194)
    assert r.body["__CURSOR"] == "s=1;i=9"  # kept (reference parity)


def test_wineventlog_parser(spark):
    from opentelemetry_collector_contrib_spark.operators.parse import wineventlog_parser

    rendered = (
        '<Event xmlns="http://schemas.microsoft.com/win/2004/08/events/event">'
        '<System><Provider Name="Service Control Manager"/>'
        '<EventID Qualifiers="16384">7036</EventID><Level>4</Level>'
        '<TimeCreated SystemTime="2022-04-22T10:20:52.3778625Z"/>'
        "<EventRecordID>23401</EventRecordID><Channel>System</Channel>"
        "<Computer>desktop-1</Computer></System>"
        '<EventData><Data Name="param1">Windows Update</Data>'
        '<Data Name="param2">running</Data></EventData>'
        "<RenderingInfo Culture=\"en-US\"><Message>The service entered the running state.</Message>"
        "<Level>Information</Level></RenderingInfo></Event>"
    )
    raw_only = (
        "<Event><System><Provider Name=\"p\"/><EventID Qualifiers=\"0\">1</EventID>"
        "<Level>2</Level><TimeCreated SystemTime=\"2022-04-22T10:20:52Z\"/>"
        "<EventRecordID>5</EventRecordID><Channel>App</Channel>"
        "<Computer>c</Computer></System></Event>"
    )
    df = spark.createDataFrame([(rendered,), (raw_only,)], "line string")
    rows = {r.record_id: r for r in wineventlog_parser(df, "line").collect()}
    a = rows[23401]
    assert a.event_id_win == 7036 and a.qualifiers == 16384
    assert a.provider == "Service Control Manager"
    assert a.level == "Information"  # rendered wins (xml.go:82-90)
    assert a.severity_text == "INFO"
    assert a.message == "The service entered the running state."
    assert a.event_data["param1"] == "Windows Update"
    assert a.ts is not None
    b = rows[5]
    assert b.level == "2"  # falls back to System Level
    assert b.severity_text == "ERROR"  # numeric map (xml.go:63-77)
    assert b.message == "" and b.event_data is None
