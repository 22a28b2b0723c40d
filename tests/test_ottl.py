"""OTTL statement corpus — the `pkg/ottl/e2e/e2e_test.go` analog.

Each case: one statement applied to the canonical log record; assert the
mutated row. Input mirrors the constructed record of the reference e2e test
(body "operationA", attributes/resource maps, INFO severity).
"""

import datetime

import pytest
from pyspark.sql import Row, functions as F
from pyspark.sql import types as T

from opentelemetry_collector_contrib_spark.ottl import (
    compile_condition,
    compile_statement,
)
from opentelemetry_collector_contrib_spark.ottl.compiler import apply_statements

SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("observed_ts", T.TimestampType()),
        T.StructField("severity_text", T.StringType()),
        T.StructField("severity_number", T.IntegerType()),
        T.StructField("body", T.StringType()),
        T.StructField("attributes", T.MapType(T.StringType(), T.StringType())),
        T.StructField("resource", T.MapType(T.StringType(), T.StringType())),
        T.StructField("trace_id", T.StringType()),
        T.StructField("span_id", T.StringType()),
        T.StructField("n_tok", T.IntegerType()),
    ]
)

TS = datetime.datetime(2024, 2, 3, 13, 4, 5)


def base_row():
    return {
        "ts": TS,
        "observed_ts": TS,
        "severity_text": "info",
        "severity_number": 9,
        "body": "operationA",
        "attributes": {"http.method": "get", "http.path": "/health", "flags": "A|B|C", "total.string": "123456789"},
        "resource": {"host.name": "localhost", "required": "foo"},
        "trace_id": "0102030405060708090a0b0c0d0e0f10",
        "span_id": "0102030405060708",
        "n_tok": 42,
    }


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame([Row(**base_row())], SCHEMA)


def run(df, stmt):
    out = compile_statement(df, stmt)
    return out.collect()[0].asDict()


CASES = [
    # (statement, field, expected)
    ('set(attributes["test"], "pass")', None, ("attributes.test", "pass")),
    ('set(attributes["test"], "pass") where body == "operationA"', None, ("attributes.test", "pass")),
    ('set(attributes["test"], "pass") where body == "operationB"', None, ("attributes.test", None)),
    ('set(attributes["test"], "pass") where body == "operationA" and severity_number == 9', None, ("attributes.test", "pass")),
    ('set(attributes["test"], "pass") where body == "x" or severity_text == "info"', None, ("attributes.test", "pass")),
    ('set(attributes["test"], "pass") where not (body == "operationB")', None, ("attributes.test", "pass")),
    ('set(attributes["test"], "pass") where severity_number < 10', None, ("attributes.test", "pass")),
    ('set(attributes["test"], "pass") where severity_number <= 9', None, ("attributes.test", "pass")),
    ('set(attributes["test"], "pass") where severity_number > 100', None, ("attributes.test", None)),
    ('set(attributes["test"], "pass") where attributes["doesnt_exist"] == nil', None, ("attributes.test", "pass")),
    ('set(severity_text, "warn")', "severity_text", "warn"),
    ('set(severity_number, 13)', "severity_number", 13),
    ('set(severity_number, severity_number + 4)', "severity_number", 13),
    ('set(severity_number, severity_number - 4)', "severity_number", 5),
    ('set(severity_number, severity_number * 2)', "severity_number", 18),
    ('set(attributes["m"], n_tok / 2)', None, ("attributes.m", "21.0")),
    ('set(body, Concat([severity_text, body], ": "))', "body", "info: operationA"),
    ('set(body, ConvertCase(body, "upper"))', "body", "OPERATIONA"),
    ('set(body, ConvertCase("HTTPStatusCode", "snake"))', "body", "http_status_code"),
    ('set(body, ConvertCase("http_status_code", "camel"))', "body", "HttpStatusCode"),
    ('set(attributes["d"], Double("3"))', None, ("attributes.d", "3.0")),
    ('set(attributes["i"], Int("123"))', None, ("attributes.i", "123")),
    ('set(attributes["i"], Int(2.7))', None, ("attributes.i", "2")),
    ('set(attributes["s"], String(42))', None, ("attributes.s", "42")),
    ('set(attributes["sha"], SHA256("x"))', None, ("attributes.sha", "2d711642b726b04401627ca9fbac32f5c8530fb1903cc4db02258717921a4881")),
    ('set(attributes["h"], Hour(time))', None, ("attributes.h", "13")),
    ('set(attributes["test"], "pass") where IsMatch(body, "^operation[AC]$")', None, ("attributes.test", "pass")),
    ('set(attributes["l"], Len(body))', None, ("attributes.l", "10")),
    ('set(attributes["sub"], Substring(body, 0, 3))', None, ("attributes.sub", "ope")),
    ('set(attributes["up"], Split(attributes["flags"], "|"))', None, None),  # just must not error
    ('set(attributes["u"], UnixSeconds(time))', None, ("attributes.u", str(int(TS.replace(tzinfo=datetime.timezone.utc).timestamp())))),
    ('set(body, Base64Decode("cGFzcw=="))', "body", "pass"),
    ('set(attributes["b"], Concat(["a", "b"], "-"))', None, ("attributes.b", "a-b")),
    ('delete_key(attributes, "http.method")', None, ("attributes.http.method", None)),
    ('delete_matching_keys(attributes, "^http.*")', None, ("attributes.http.path", None)),
    ('keep_keys(attributes, ["flags"])', "attributes", {"flags": "A|B|C"}),
    ('truncate_all(attributes, 3)', None, ("attributes.flags", "A|B")),
    ('replace_pattern(attributes["http.method"], "get", "post")', None, ("attributes.http.method", "post")),
    ('replace_match(attributes["http.path"], "/health*", "/sanitized")', None, ("attributes.http.path", "/sanitized")),
    ('replace_all_matches(attributes, "/health*", "/masked")', None, ("attributes.http.path", "/masked")),
    ('replace_all_patterns(attributes, "value", "get", "GET")', None, ("attributes.http.method", "GET")),
    ('replace_all_patterns(attributes, "key", "http\\.", "web_")', None, ("attributes.web_method", "get")),
    ('set(attributes["ex"], ExtractPatterns(body, "op(?P<rest>.*)"))', None, None),
    ('set(attributes["tu"], TruncateTime(time, "hour"))', None, ("attributes.tu", "2024-02-03 13:00:00")),
    # --- corpus extension: arithmetic, coercions, durations, gating ---
    ('set(severity_number, 2 + 3 * 4)', "severity_number", 14),
    ('set(attributes["m2"], (n_tok + 8) / 10)', None, ("attributes.m2", "5.0")),
    ('set(attributes["t"], "y") where severity_number == 9.0', None, ("attributes.t", "y")),  # int/float cross-promote
    ('set(attributes["t"], "y") where 1 < 2 and 3 >= 3', None, ("attributes.t", "y")),
    ('set(attributes["t"], "y") where not not (body == "operationA")', None, ("attributes.t", "y")),
    ('set(attributes["d1"], Seconds(Duration("90s")))', None, ("attributes.d1", "90.0")),
    ('set(attributes["d2"], Milliseconds(Duration("1s500ms")))', None, ("attributes.d2", "1500")),
    ('set(attributes["d3"], Minutes(Duration("1h30m")))', None, ("attributes.d3", "90.0")),
    ('set(ts, time + Duration("1h"))', "ts", __import__("datetime").datetime(2024, 2, 3, 14, 4, 5)),
    ('set(ts, time - Duration("4s"))', "ts", __import__("datetime").datetime(2024, 2, 3, 13, 4, 1)),
    ('set(attributes["t"], "y") where time < Now() + Duration("1h")', None, ("attributes.t", "y")),
    ('delete_key(attributes, "flags") where severity_text == "info"', None, ("attributes.flags", None)),
    ('delete_key(attributes, "flags") where severity_text == "fatal"', None, ("attributes.flags", "A|B|C")),
    ('set(attributes["fnv1"], FNV(body))', None, None),  # deterministic: checked below
    ('set(attributes["low"], ConvertCase(severity_text, "lower"))', None, ("attributes.low", "info")),
    ('set(attributes["sub2"], Substring(body, 9, 1))', None, ("attributes.sub2", "A")),
    ('set(body, attributes["http.method"]) where attributes["http.method"] != nil', "body", "get"),
    ('set(body, "gone") where attributes["nope"] != nil', "body", "operationA"),
    ('replace_pattern(body, "operation(.)", "op-$1")', "body", "op-A"),
    ('set(attributes["neg"], 0 - n_tok)', None, ("attributes.neg", "-42")),
    # --- type-reflective converters (func_is_*.go, func_len.go, func_unix.go)
    ('set(attributes["t"], "pass") where IsString(body)', None, ("attributes.t", "pass")),
    ('set(attributes["t"], "pass") where IsString(severity_number)', None, ("attributes.t", None)),
    ('set(attributes["t"], "pass") where IsInt(severity_number)', None, ("attributes.t", "pass")),
    ('set(attributes["t"], "pass") where IsDouble(severity_number)', None, ("attributes.t", None)),
    ('set(attributes["t"], "pass") where IsMap(attributes)', None, ("attributes.t", "pass")),
    ('set(attributes["t"], "pass") where IsList(attributes)', None, ("attributes.t", None)),
    ('set(attributes["t"], "pass") where IsBool(severity_number)', None, ("attributes.t", None)),
    ('set(attributes["t"], "pass") where not IsMap(body)', None, ("attributes.t", "pass")),
    ('set(attributes["t"], "pass") where IsString(attributes["http.method"])', None, ("attributes.t", "pass")),
    ('set(attributes["t"], "pass") where IsString(attributes["doesnt_exist"])', None, ("attributes.t", None)),  # nil → false
    ('set(attributes["t"], "pass") where IsString("literal")', None, ("attributes.t", "pass")),
    ('set(attributes["t"], "pass") where IsInt(3)', None, ("attributes.t", "pass")),
    ('set(attributes["t"], "pass") where IsDouble(3.5)', None, ("attributes.t", "pass")),
    ('set(attributes["lm"], Len(attributes))', None, ("attributes.lm", "4")),  # map → entry count
    ('set(attributes["ls"], Len(body))', None, ("attributes.ls", "10")),
    ('set(attributes["ux"], Seconds(Unix(5)))', None, ("attributes.ux", "5.0")),
]


@pytest.mark.parametrize("stmt,fld,expected", CASES, ids=[c[0][:48] for c in CASES])
def test_statement(df, stmt, fld, expected):
    got = run(df, stmt)
    if fld is not None:
        assert got[fld] == expected, f"{stmt}: {got[fld]!r} != {expected!r}"
    elif expected is not None:
        path, want = expected
        assert path.startswith("attributes.")
        key = path[len("attributes."):]
        assert got["attributes"].get(key) == want, f"{stmt}: attributes={got['attributes']}"


def test_merge_maps_modes(df, spark):
    d2 = df.withColumn(
        "cache",
        F.create_map(F.lit("http.method"), F.lit("HEAD"), F.lit("new"), F.lit("v")),
    )
    ins = compile_statement(d2, 'merge_maps(attributes, cache, "insert")').collect()[0]
    assert ins.attributes["http.method"] == "get" and ins.attributes["new"] == "v"
    upd = compile_statement(d2, 'merge_maps(attributes, cache, "update")').collect()[0]
    assert upd.attributes["http.method"] == "HEAD" and "new" not in upd.attributes
    ups = compile_statement(d2, 'merge_maps(attributes, cache, "upsert")').collect()[0]
    assert ups.attributes["http.method"] == "HEAD" and ups.attributes["new"] == "v"


def test_limit_priority(df):
    out = compile_statement(df, 'limit(attributes, 2, ["total.string"])').collect()[0]
    assert len(out.attributes) == 2
    assert "total.string" in out.attributes


def test_statement_sequence_order(df):
    out = apply_statements(
        df,
        [
            'set(attributes["a"], "1")',
            'set(attributes["a"], "2") where attributes["a"] == "1"',
            'set(attributes["b"], attributes["a"])',
        ],
    ).collect()[0]
    assert out.attributes["a"] == "2"
    assert out.attributes["b"] == "2"


def test_condition_compile(df):
    cond = compile_condition('severity_number >= 9 and IsMatch(body, "^op")')
    assert df.filter(cond).count() == 1
    cond2 = compile_condition('severity_number < 9 or body == "nope"')
    assert df.filter(cond2).count() == 0


def test_parse_csv_converter(df):
    out = compile_statement(df, 'set(cachemap, ParseCSV("1,foo,2.5", "a,b,c"))').collect()[0]
    assert out.cachemap == {"a": "1", "b": "foo", "c": "2.5"}
    # short row pads with nulls instead of erroring
    out2 = compile_statement(df, 'set(cachemap, ParseCSV("only", "a,b"))').collect()[0]
    assert out2.cachemap == {"a": "only", "b": None}


def test_time_comparison(df):
    out = run(df, 'set(attributes["t"], "old") where time < Now()')
    assert out["attributes"]["t"] == "old"


def test_parse_json_typed(df):
    """ParseJSON → a real map value (func_parse_json.go), scalars coerced to
    their string rendering; malformed JSON → null (ErrorMode ignore)."""
    j = df.withColumn("body", F.lit('{"a": 1, "b": "x", "c": true}'))
    out = compile_statement(j, "set(attributes, ParseJSON(body))").collect()[0]
    assert out.attributes == {"a": "1", "b": "x", "c": "true"}
    bad = df.withColumn("body", F.lit("{not json"))
    out2 = compile_statement(bad, "set(attributes, ParseJSON(body))").collect()[0]
    assert out2.attributes is None
    # Len over the parsed map
    chained = apply_statements(
        j, ["set(attributes, ParseJSON(body))", 'set(attributes["n"], Len(attributes))']
    ).collect()[0]
    assert chained.attributes["n"] == "3"


def test_type_predicate_requires_schema_or_literal(df):
    """A type predicate over an unresolvable expression raises at compile
    time instead of silently returning true (r01 stub regression guard)."""
    with pytest.raises(ValueError, match="statically resolve"):
        compile_statement(df, 'set(attributes["t"], "x") where IsInt(Concat([body], "-"))')


def test_severity_http_range_expansion(spark):
    """severity_builder.go:192-210 — literal status codes resolve through
    the expanded Nxx buckets ("204"→info(9), "503"→error(17)); a custom
    alias for one status overrides its bucket and leaves its neighbours."""
    from opentelemetry_collector_contrib_spark.functions.severity import attach_severity

    df = spark.createDataFrame(
        [("204",), ("301",), ("404",), ("405",), ("503",), ("2xx",), ("warn",), ("999",),
         ("204\n",), (None,)],
        "level string",
    )
    out = {r.level: (r.severity_text, r.severity_number)
           for r in attach_severity(df, "level").collect()}
    assert out == {
        "204": ("info", 9),
        "301": ("info2", 10),
        "404": ("warn", 13),
        "405": ("warn", 13),
        "503": ("error", 17),
        "2xx": ("info", 9),
        "warn": ("warn", 13),
        "999": ("default", 0),
        "204\n": ("default", 0),
        None: ("default", 0),
    }

    custom = attach_severity(df, "level", custom=[("404", "fatal", 21)])
    got = {r.level: (r.severity_text, r.severity_number) for r in custom.collect()}
    assert got["404"] == ("fatal", 21)
    assert got["405"] == ("warn", 13)
    assert got["503"] == ("error", 17)


def test_enum_literals(df):
    """grammar.go:238 enum symbols + ottllog parseEnum (log.go:111-136):
    uppercase symbols resolve to OTLP severity-number ints in both editor
    args and where-conditions."""
    out = run(df, "set(severity_number, SEVERITY_NUMBER_ERROR2) where severity_number >= SEVERITY_NUMBER_INFO")
    assert out["severity_number"] == 18
    # condition false -> untouched (base row is INFO=9 < WARN=13)
    out2 = run(df, "set(severity_number, SEVERITY_NUMBER_FATAL) where severity_number >= SEVERITY_NUMBER_WARN")
    assert out2["severity_number"] == 9
    # the full 25-symbol table matches the OTLP scale
    from opentelemetry_collector_contrib_spark.ottl.compiler import ENUM_SYMBOLS

    assert ENUM_SYMBOLS["SEVERITY_NUMBER_UNSPECIFIED"] == 0
    assert ENUM_SYMBOLS["SEVERITY_NUMBER_TRACE"] == 1
    assert ENUM_SYMBOLS["SEVERITY_NUMBER_DEBUG4"] == 8
    assert ENUM_SYMBOLS["SEVERITY_NUMBER_INFO"] == 9
    assert ENUM_SYMBOLS["SEVERITY_NUMBER_WARN"] == 13
    assert ENUM_SYMBOLS["SEVERITY_NUMBER_ERROR"] == 17
    assert ENUM_SYMBOLS["SEVERITY_NUMBER_FATAL4"] == 24
    assert len(ENUM_SYMBOLS) == 25
    # unknown symbol errors like the reference's parseEnum
    with pytest.raises(ValueError, match="enum symbol not found"):
        compile_statement(df, "set(severity_number, SEVERITY_NUMBER_BOGUS2X)")
    # mixed-case identifiers still parse as paths/calls, not enums
    out3 = run(df, 'set(body, ConvertCase(body, "upper"))')
    assert out3["body"] == "OPERATIONA"


def test_flatten_editor(spark):
    """func_flatten.go semantics over map<string,string> with JSON-object
    residue values: nested objects -> dotted keys, arrays -> key.<i>,
    prefix prepends, depth bounds expansion."""
    sch = T.StructType([
        T.StructField("body", T.StringType()),
        T.StructField("attributes", T.MapType(T.StringType(), T.StringType())),
    ])
    j = spark.createDataFrame(
        [("b", {"name": "test", "address": '{"street":"First","house":"1234"}',
                "occupants": '["user 1","user 2"]'})],
        sch,
    )
    flat = compile_statement(j, "flatten(attributes)").collect()[0].attributes
    assert flat == {
        "name": "test",
        "address.street": "First",
        "address.house": "1234",
        "occupants.0": "user 1",
        "occupants.1": "user 2",
    }
    # prefix (func_flatten.go:66-68)
    pre = compile_statement(j, 'flatten(attributes, "app")').collect()[0].attributes
    assert pre["app.name"] == "test"
    assert pre["app.address.street"] == "First"
    # depth 0 -> untouched; depth 1 over two-level nesting leaves residue
    two = spark.createDataFrame(
        [("b", {"a": '{"b":{"c":"x"}}'})], sch)
    d0 = compile_statement(two, 'flatten(attributes, "", 0)').collect()[0].attributes
    assert d0 == {"a": '{"b":{"c":"x"}}'}
    d1 = compile_statement(two, 'flatten(attributes, "", 1)').collect()[0].attributes
    assert list(d1) == ["a.b"]
    d2 = compile_statement(two, 'flatten(attributes, "", 2)').collect()[0].attributes
    assert d2 == {"a.b.c": "x"}
    with pytest.raises(ValueError, match="negative"):
        compile_statement(two, 'flatten(attributes, "", -1)')
    # key collision: a literal 'a.b' plus nested a:{"b":...} — the reference
    # upserts via pcommon.Map.PutEmpty (last writer wins), so this must
    # flatten, not throw under mapKeyDedupPolicy=EXCEPTION. Flattened
    # children expand in entry order after the literal key, so the nested
    # value wins.
    coll = spark.createDataFrame(
        [("b", {"a.b": "literal", "a": '{"b":"nested"}'})], sch)
    got = compile_statement(coll, "flatten(attributes)").collect()[0].attributes
    assert got == {"a.b": "nested"}
    # last-win determinism on a guaranteed-order input (array literal)
    from opentelemetry_collector_contrib_spark.ottl.compiler import (
        _map_entries_last_win,
    )
    ent = F.array(*[
        F.struct(F.lit(k).alias("key"), F.lit(v).alias("value"))
        for k, v in [("k", "v1"), ("other", "x"), ("k", "v2")]
    ])
    m = spark.range(1).select(_map_entries_last_win(ent).alias("m")).first().m
    assert m == {"k": "v2", "other": "x"}
