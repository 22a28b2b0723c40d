"""Parsers — stanza ParserOperator analogs (`pkg/stanza/operator/parser/*`).

Shared semantics (`pkg/stanza/operator/helper/parser.go:97-190`): read
``parse_from``, produce fields, write to ``parse_to``; failed parses follow
``on_error``: ``send``/``send_quiet`` pass the row through with null parsed
fields, ``drop``/``drop_quiet`` remove it (`helper/transformer.go:97-110`).

Every parser maps to native Catalyst expressions, which whole-stage codegen
fuses into the surrounding plan and column pruning trims to what the query
reads. The regex parser is one ``regexp_extract`` per named group, so a
query that reads one group runs one extract; json/csv/kv/uri/time map to
from_json / from_csv / str_to_map / parse_url / to_timestamp.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.exprs import per_jvm

ON_ERROR = ("send", "send_quiet", "drop", "drop_quiet")

# One token of a regex: an escape, a character class, a named or unnamed
# capturing-group opener, or ``$``; everything else passes through as is.
_REGEX_TOKEN = re.compile(r"\\.|\[\^?\]?(?:\\.|[^\]\\])*\]|\(\?P<\w+>|\((?!\?)|\$", re.S)


def _rewrite(pattern: str, token: dict[str, str]) -> str:
    """Replaces the tokens that ``token`` maps; its key ``"(?P<"`` stands
    for every named-group opener."""

    def sub(m: re.Match) -> str:
        t = m.group()
        key = "(?P<" if t.startswith("(?P<") else t
        return token.get(key, t)

    return _REGEX_TOKEN.sub(sub, pattern)


def _jvm_pattern(pattern: str) -> str:
    """The pattern for ``java.util.regex`` that matches as RE2 does.

    Named groups become plain groups, since Java group names allow no
    ``_``; group numbers stay those of ``re.compile(pattern).groupindex``.
    ``$`` becomes ``\\z``: RE2 matches ``$`` only at the end of the text,
    Java also before a final line terminator. ``(?d)`` makes ``\\n`` the
    only line terminator, as in RE2, so ``.`` matches ``\\r``."""
    if re.compile(pattern).flags & re.MULTILINE:
        raise ValueError("multi-line (?m) patterns are not supported")
    return "(?d)" + _rewrite(pattern, {"(?P<": "(", "$": r"\z"})


def regex_parser(
    df: DataFrame,
    pattern: str,
    parse_from: str = "line",
    prefix: str = "",
    on_error: str = "send",
) -> DataFrame:
    """regex_parser (`parser/regex/parser.go:46-74`): named capture groups →
    one string column each.

    A line that does not match (or is null) gets null in every group; in a
    matching line a group that matched nothing, or took no part in the
    match, is ``""``. on_error=send passes failed lines through
    (`helper/parser.go:103-110`), on_error=drop filters them.

    Each group is ``when(rlike(p), regexp_extract(p, i))`` with ``p =
    _jvm_pattern(pattern)``. These are plain Catalyst expressions, so the
    optimizer prunes the groups nobody reads and the rows never leave the
    JVM.

    The reference optionally memoizes raw→parsed with an LRU cache
    (parser.go:46-51); vectorized execution makes that unnecessary.
    """
    if on_error not in ON_ERROR:
        raise ValueError(f"on_error must be one of {ON_ERROR}")
    if not re.compile(pattern).groupindex:
        raise ValueError("pattern must use named capture groups (?P<name>...)")
    matched, cols = _jvm_group_cols(pattern, parse_from)
    if on_error.startswith("drop"):
        df = df.filter(matched)
    return df.withColumns({prefix + n: c for n, c in cols})


@per_jvm
def _jvm_group_cols(pattern: str, parse_from: str) -> tuple[Column, tuple[tuple[str, Column], ...]]:
    """The match test and the (name, column) per named group."""
    java = _jvm_pattern(pattern)
    line = F.col(parse_from)
    matched = line.rlike(java)
    groups = re.compile(pattern).groupindex
    return matched, tuple((n, F.when(matched, F.regexp_extract(line, java, i))) for n, i in groups.items())


def json_parser(df: DataFrame, schema, parse_from: str, parse_to: str = "parsed") -> DataFrame:
    """json_parser (`parser/json/parser.go`) → from_json."""
    return df.withColumn(parse_to, F.from_json(F.col(parse_from), schema))


def xml_parser(
    df: DataFrame, schema: str, parse_from: str, parse_to: str = "parsed"
) -> DataFrame:
    """XML parse → struct via from_xml (`pkg/ottl/ottlfuncs/func_parse_xml.go`
    flattening semantics under a declared schema; attributes address as
    ``_name`` fields). For ad-hoc single-value extraction see
    ``xml_xpath``."""
    return df.withColumn(parse_to, F.from_xml(F.col(parse_from), schema))


def xml_xpath(
    df: DataFrame, parse_from: str, paths: dict[str, str], on_error: str = "send"
) -> DataFrame:
    """Targeted XPath extraction (one output column per path) — the
    schema-free escape hatch for documents too irregular to declare.

    on_error='send' nulls rows that don't look like XML (xpath_string
    RAISES on unparseable input, unlike from_xml); a row that passes the
    cheap '<'-prefix guard but is still malformed propagates the task
    error — use xml_parser (null-safe from_xml) when inputs are dirty."""
    col = F.col(parse_from)
    looks_xml = col.rlike(r"^\s*<")
    out = df
    for name, xp in paths.items():
        v = F.xpath_string(col, F.lit(xp))
        if on_error == "send":
            v = F.when(looks_xml, v)
        out = out.withColumn(name, v)
    return out


def csv_parser(
    df: DataFrame, schema: str, parse_from: str, parse_to: str = "parsed", sep: str = ","
) -> DataFrame:
    """csv_parser (`parser/csv/parser.go`) → from_csv."""
    return df.withColumn(
        parse_to, F.from_csv(F.col(parse_from), schema, {"sep": sep})
    )


def jsonarray_parser(
    df: DataFrame, element_schema: str, parse_from: str, parse_to: str = "parsed"
) -> DataFrame:
    """jsonarray_parser (`parser/jsonarray/parser.go`) → from_json ArrayType."""
    return df.withColumn(
        parse_to, F.from_json(F.col(parse_from), f"array<{element_schema}>")
    )


# MSG runs to the end of the line; one final line terminator (\n, \r\n or
# \r), which a line reader may leave on, is not part of it
_SYSLOG_MSG = r"(?P<msg>.*?)\r?\n?$"
# RFC3164: "<PRI>MMM dd HH:mm:ss HOST TAG: MSG" — pri = facility*8 + severity
SYSLOG_3164 = (
    r"^<(?P<pri>\d+)>(?P<ts3164>\w{3}\s+\d+ \d{2}:\d{2}:\d{2}) "
    r"(?P<host>\S+) (?P<tag>[^:\[]+)(?:\[(?P<pid>\d+)\])?: ?" + _SYSLOG_MSG
)
# RFC5424: "<PRI>1 ISO8601 HOST APP PROCID MSGID SD MSG"
SYSLOG_5424 = (
    r"^<(?P<pri>\d+)>1 (?P<ts5424>\S+) (?P<host>\S+) (?P<app>\S+) "
    r"(?P<procid>\S+) (?P<msgid>\S+) (?P<sd>(?:-|\[.*?\])) ?" + _SYSLOG_MSG
)


def syslog_parser(
    df: DataFrame, parse_from: str = "line", protocol: str = "rfc3164",
    year: int = 2024, multiline_msg: bool = False
) -> DataFrame:
    """syslog_parser (`parser/syslog/parser.go:58-160`): RFC3164/RFC5424
    structured parse; PRI splits into facility/severity per the RFC.

    ``multiline_msg`` lets the RFC 5424 MSG span newlines — the
    go-syslog machine accepts any octets there, which matters exactly
    for octet-counted TCP frames (`sources/syslog_framing`); the
    default stays line-oriented for the line-reader paths."""
    pat = SYSLOG_3164 if protocol == "rfc3164" else SYSLOG_5424
    if multiline_msg and protocol == "rfc5424":
        pat = pat.replace(_SYSLOG_MSG, "(?P<msg>(?s:.*))$")
    out = regex_parser(df, pat, parse_from=parse_from)
    # the syslog parser sets no field for an absent part (an RFC 3164 line
    # without [pid], an empty MSG): empty groups are null
    groups = re.compile(pat).groupindex
    out = out.withColumns({n: F.nullif(F.col(n), F.lit("")) for n in groups})
    pri = F.col("pri").cast("int")
    out = out.withColumn("facility", (pri / 8).cast("int")).withColumn(
        "syslog_severity", F.pmod(pri, F.lit(8)).cast("int")
    )
    if protocol == "rfc3164":
        ts = F.to_timestamp(
            F.concat(F.lit(f"{year} "), F.regexp_replace(F.col("ts3164"), r"\s+", " ")),
            "yyyy MMM d HH:mm:ss",
        )
    else:
        ts = F.to_timestamp(F.col("ts5424"), "yyyy-MM-dd'T'HH:mm:ss[.SSSSSS]X")
    return out.withColumn("ts", ts)


def key_value_parser(
    df: DataFrame,
    parse_from: str,
    parse_to: str = "attributes",
    pair_delim: str = " ",
    kv_delim: str = "=",
) -> DataFrame:
    """key_value_parser (`parser/keyvalue/parser.go:37-48`) → str_to_map."""
    return df.withColumn(
        parse_to, F.str_to_map(F.col(parse_from), F.lit(pair_delim), F.lit(kv_delim))
    )


def uri_parser(df: DataFrame, parse_from: str, prefix: str = "uri_") -> DataFrame:
    """uri_parser (`parser/uri/parser.go:37-115`) → parse_url parts."""
    col = F.col(parse_from)
    return (
        df.withColumn(prefix + "scheme", F.lower(F.parse_url(col, F.lit("PROTOCOL"))))
        .withColumn(prefix + "host", F.parse_url(col, F.lit("HOST")))
        .withColumn(prefix + "path", F.parse_url(col, F.lit("PATH")))
        .withColumn(prefix + "query", F.parse_url(col, F.lit("QUERY")))
    )


# Go reference-time components → Spark datetime pattern, longest-first so
# "2006" wins over "06" and "01" over "1" (`operator/helper/time.go` gotime
# layout_type; Go layouts are the collector's native flavor).
_GOTIME_TABLE = [
    ("2006", "yyyy"), ("January", "MMMM"), ("Jan", "MMM"), ("Monday", "EEEE"),
    ("Mon", "EEE"), ("15", "HH"), ("002", "DDD"), ("01", "MM"), ("02", "dd"),
    ("03", "hh"), ("04", "mm"), ("05", "ss"), ("06", "yy"),
    (".000000000", ".SSSSSSSSS"), (".000000", ".SSSSSS"), (".000", ".SSS"),
    ("PM", "a"),
    ("Z07:00", "XXX"), ("Z0700", "XX"), ("-07:00", "xxx"), ("-0700", "xx"),
    ("MST", "zz"), ("1", "M"), ("2", "d"), ("3", "h"), ("4", "m"), ("5", "s"),
]

# Go directives with no Spark-datetime equivalent: rejecting loudly beats a
# silent null parse (on_error='send' would otherwise swallow it).
_GOTIME_UNSUPPORTED = {
    "__2": "space-padded day-of-year",
    "_2": "space-padded day ('Jan _2' syslog layout)",
    "pm": "lowercase am/pm marker (Spark 'a' matches uppercase only)",
}


def gotime_to_spark(layout: str) -> str:
    """'2006-01-02 15:04:05' → 'yyyy-MM-dd HH:mm:ss' (greedy left-to-right,
    longest component first). Unrecognized LETTERS are single-quoted — Spark
    treats bare letters as pattern chars, so the 'T' in an ISO layout must
    become 'T'; punctuation/digits pass through bare.

    Go's space-padded directives (`_2`, `__2`) and lowercase `pm` have no
    Spark pattern equivalent and raise ValueError — normalize the input
    instead (``regexp_replace(col, '  +', ' ')`` + layout '2'; ``upper()``
    + layout 'PM'). `002` (day-of-year) maps to 'DDD'."""
    out, i = [], 0
    while i < len(layout):
        for go, why in _GOTIME_UNSUPPORTED.items():
            if layout.startswith(go, i):
                raise ValueError(
                    f"gotime directive {go!r} ({why}) is not representable as a "
                    f"Spark datetime pattern; normalize the input column instead"
                )
        for go, spark in _GOTIME_TABLE:
            if layout.startswith(go, i):
                out.append(spark)
                i += len(go)
                break
        else:
            ch = layout[i]
            out.append(f"'{ch}'" if ch.isalpha() else ch)
            i += 1
    return "".join(out)


def time_parser(
    df: DataFrame,
    parse_from: str,
    layout: str | None = None,
    layout_type: str = "strptime",
    parse_to: str = "ts",
    on_error: str = "send",
) -> DataFrame:
    """time_parser (`operator/helper/time.go:19-26,131-200`).

    layout_type: 'strptime' → %-directives (or a native Spark pattern)
    converted via the ctime table; 'gotime' → Go reference-time layout
    ("2006-01-02 15:04:05") converted via gotime_to_spark;
    'epoch' → layout one of s/ms/us/ns over numeric input.

    on_error='send' (default) tolerates unparseable strings → null ts
    (try_to_timestamp; Spark 4 ANSI would otherwise fail the task, which is
    exactly ErrorMode=propagate — pass on_error='propagate' for that).
    """
    return df.withColumn(parse_to, _time_col(parse_from, layout, layout_type, on_error))


@per_jvm
def _time_col(parse_from: str, layout: str | None, layout_type: str, on_error: str) -> Column:
    col = F.col(parse_from)
    if layout_type == "epoch":
        unit = layout or "s"
        if unit == "s":
            return F.timestamp_seconds(col.cast("double"))
        if unit == "ms":
            return F.timestamp_millis(col.cast("long"))
        if unit == "us":
            return F.timestamp_micros(col.cast("long"))
        if unit == "ns":
            return F.timestamp_micros((col.cast("long") / 1000).cast("long"))
        raise ValueError(f"unknown epoch unit {unit}")
    fn = F.to_timestamp if on_error == "propagate" else F.try_to_timestamp
    if layout is None:
        return fn(col)
    if layout_type == "gotime":
        layout = gotime_to_spark(layout)
    elif layout_type == "strptime" and "%" in layout:
        from ..ottl.compiler import _strptime_to_spark

        layout = _strptime_to_spark(layout)
    return fn(col, F.lit(layout))


def trace_parser(df: DataFrame, trace_from: str = "trace_id_hex", span_from: str | None = "span_id_hex") -> DataFrame:
    """trace_parser (`parser/trace`): hex strings → binary ids."""
    out = df.withColumn("trace_id", F.unhex(F.col(trace_from)))
    if span_from:
        out = out.withColumn("span_id", F.unhex(F.col(span_from)))
    return out


def journald_parser(df: DataFrame, parse_from: str = "line", body_to: str = "body") -> DataFrame:
    """journald export-stream parse — one ``journalctl -o json`` JSON object
    per line (`pkg/stanza/operator/input/journald/input.go:172-214`):
    timestamp comes from ``__REALTIME_TIMESTAMP`` (microseconds since epoch,
    deleted from the body — input.go:194,211), the resume token from
    ``__CURSOR`` (persisted per line by the reference, input.go:196-204; it
    STAYS in the body there, so it stays here), and the remaining fields are
    the entry body. The reference shells out to journalctl and parses its
    stdout; the journald wire format itself is out of sandbox reach, but the
    export format is plain JSON lines, so the parse half is fully faithful.

    Export-format values are strings; binary-valued fields (emitted as JSON
    byte arrays) are kept as their raw JSON text under the declared
    ``map<string,string>`` schema (Spark's JacksonParser string-coerces
    non-string scalars and containers), so no record is lost — a
    schema-specific re-parse can decode them from either the map value or
    the preserved ``parse_from`` line.
    """
    m = F.from_json(F.col(parse_from), "map<string,string>")
    return (
        df.withColumn("_jd", m)
        # try_element_at: ANSI-safe — a record missing the field yields null
        # (the reference warns and skips such lines, input.go:148-152)
        .withColumn(
            "ts_unix_us",
            F.try_element_at("_jd", F.lit("__REALTIME_TIMESTAMP")).cast("long"),
        )
        .withColumn("cursor", F.try_element_at("_jd", F.lit("__CURSOR")))
        .withColumn(
            body_to,
            F.map_filter("_jd", lambda k, _: k != F.lit("__REALTIME_TIMESTAMP")),
        )
        .drop("_jd")
    )


_WINEVENT_SCHEMA = """
    System struct<
        Provider struct<_Name string, _Guid string, _EventSourceName string>,
        EventID struct<_Qualifiers int, _VALUE bigint>,
        Level string, Task string, Opcode string,
        TimeCreated struct<_SystemTime string>,
        EventRecordID bigint,
        Channel string, Computer string,
        Security struct<_UserID string>,
        Execution struct<_ProcessID bigint, _ThreadID bigint>
    >,
    EventData struct<Data array<struct<_Name string, _VALUE string>>>,
    RenderingInfo struct<Message string, Level string>
"""


def wineventlog_parser(df: DataFrame, parse_from: str = "line") -> DataFrame:
    """Windows Event Log rendered-XML parse
    (`pkg/stanza/operator/input/windows/xml.go`). The reference subscribes via
    the Windows API and renders each event to this XML; at rest (forwarded /
    exported logs) the same XML is what a backfill parses, so — like journald
    — the wire subscription is host-specific but the parse half is fully
    faithful:

    - timestamp: ``System>TimeCreated@SystemTime`` RFC3339Nano (xml.go:37-42)
    - rendered-falls-back-to-raw for level (xml.go:82-90 — same rule as
      task/opcode; rendered strings win when RenderingInfo is present)
    - severity: rendered ``Critical/Error/Warning/Information`` else numeric
      ``1/2/3/4`` → FATAL/ERROR/WARN/INFO, default otherwise (xml.go:45-77)
    - ``EventData>Data[@Name]`` name/value pairs → map (event.go parseEventData)
    """
    from ..ottl.compiler import _map_entries_last_win

    # Materialize the parsed struct once so nested paths resolve through the
    # analyzer (Column.getField treats "a.b" as one literal field name).
    parsed = df.withColumn("_ev", F.from_xml(F.col(parse_from), f"struct<{_WINEVENT_SCHEMA}>"))
    level_raw = F.col("_ev.System.Level")
    level_rendered = F.col("_ev.RenderingInfo.Level")
    level = F.coalesce(level_rendered, level_raw)
    sev = (
        F.when(level_rendered == "Critical", "FATAL")
        .when(level_rendered == "Error", "ERROR")
        .when(level_rendered == "Warning", "WARN")
        .when(level_rendered == "Information", "INFO")
        .when(level_rendered.isNotNull(), "DEFAULT")
        .when(level_raw == "1", "FATAL")
        .when(level_raw == "2", "ERROR")
        .when(level_raw == "3", "WARN")
        .when(level_raw == "4", "INFO")
        .otherwise("DEFAULT")
    )
    data = F.col("_ev.EventData.Data")
    return parsed.select(
        *[c for c in df.columns],
        F.try_to_timestamp(
            F.col("_ev.System.TimeCreated._SystemTime"),
            F.lit("yyyy-MM-dd'T'HH:mm:ss[.SSSSSSSSS]X"),
        ).alias("ts"),
        F.col("_ev.System.EventRecordID").alias("record_id"),
        F.col("_ev.System.EventID._VALUE").alias("event_id_win"),
        F.col("_ev.System.EventID._Qualifiers").alias("qualifiers"),
        F.col("_ev.System.Provider._Name").alias("provider"),
        F.col("_ev.System.Computer").alias("computer"),
        F.col("_ev.System.Channel").alias("channel"),
        level.alias("level"),
        sev.alias("severity_text"),
        F.coalesce(F.col("_ev.RenderingInfo.Message"), F.lit("")).alias("message"),
        F.when(
            data.isNotNull(),
            # last-win on duplicate Data[@Name] keys, like Go's map assignment
            # in parseEventData (event.go) — plain map_from_entries would
            # throw under spark.sql.mapKeyDedupPolicy=EXCEPTION
            _map_entries_last_win(
                F.transform(
                    data,
                    lambda d: F.struct(
                        d["_Name"].alias("key"), d["_VALUE"].alias("value")
                    ),
                )
            ),
        ).alias("event_data"),
    )
