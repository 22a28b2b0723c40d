"""lokiexporter marshaling parity — per-record Loki entries (label set +
line) and label-grouped push streams, as DataFrames.

Reference behavior (`pkg/translator/loki/` + `exporter/lokiexporter/`):

- labels: defaults ``exporter="OTLP"``, ``job`` = service.namespace "/"
  service.name (name required), ``instance`` = service.instance.id, each
  individually defeatable via ``default_labels_enabled``
  (`convert.go:61-81`, `utils.go:13-31`); the ``loki.resource.labels`` /
  ``loki.attribute.labels`` hints promote comma-separated attribute names
  to labels — the resource-labels hint is honored from resource AND
  record attributes (both select FROM resource attributes), the
  attribute-labels hint from record attributes only (`convert.go:37-59`);
  dotted names fall back to nested-map lookup (`convert.go:98-118`);
- level: when the ``level`` default label is enabled and severityNumber
  is set, a ``level`` attribute (TRACE…FATAL4) is added unless present
  and appended to the attribute-labels hint, so it becomes a label
  (`logs_to_loki.go:133-136,204-254`);
- promoted attributes and the four ``loki.*`` hint keys are REMOVED from
  the record/resource attribute maps before the line is built
  (`convert.go:139-148`);
- label names are Prometheus-normalized (non-alphanumerics → ``_``,
  ``key_`` prefix for leading digit or single leading underscore,
  `pkg/translator/prometheus/normalize_label.go:27-53`); the stream key
  is the prometheus LabelSet string: ``{a="x", b="y"}``, name-sorted,
  ", "-joined, Go-quoted values;
- line formats (``loki.format`` hint, resource wins, default ``json``):
  ``json`` = the lokiEntry struct in field order body/traceid/spanid/
  severity/flags/attributes/resources/instrumentation_scope with
  omitempty semantics, ``encoding/json`` escaping + sorted map keys
  (`encode.go:20-76`); ``logfmt`` = go-logfmt keyvals — the body is
  FIRST logfmt-parsed and only falls back to a ``msg`` key when that
  errors (`encode.go:133-166,214-227`); ``raw`` = body.AsString()
  (`convert.go:172-177`);
- a stream = all entries sharing one label-set string; streams group
  into one push request per tenant, the tenant read via the
  ``loki.tenant`` hint (hint names the attribute holding the tenant;
  resource wins, `logs_to_loki.go:50-115,180-197`).

Deliberate divergence: entry timestamps fall back record→observed→0
instead of ``time.Now()`` (`convert.go:193-203`) — deterministic reruns.
The wire body the reference sends is snappy(push-proto); this module
emits the (tenant, labels, entries) data surface plus the documented
Loki JSON push-API stream objects, with entries ts-sorted (the reference
keeps arrival order — an execution detail a deterministic engine pins).

Spark shape: the entry build is a PURE MAP (one ``map_records`` pass); stream
assembly is ONE exchange on (tenant, labels). At 100 TB the label-set
cardinality bounds the exchange — low by Loki design (labels are an
index, not data), and a hot stream shards safely because entries within
a stream are independent rows until the POST boundary.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..functions.gofmt import go_json_string, go_json_value
from ..functions.records import map_records

__all__ = [
    "severity_level",
    "normalize_label",
    "label_set_string",
    "log_to_loki_entry",
    "loki_entries",
    "loki_push_streams",
]

_HINT_ATTRIBUTES = "loki.attribute.labels"
_HINT_RESOURCES = "loki.resource.labels"
_HINT_TENANT = "loki.tenant"
_HINT_FORMAT = "loki.format"
_HINTS = (_HINT_ATTRIBUTES, _HINT_RESOURCES, _HINT_TENANT, _HINT_FORMAT)

_LEVELS = ("TRACE", "DEBUG", "INFO", "WARN", "ERROR", "FATAL")


def severity_level(severity_number: int) -> str:
    """plog SeverityNumber → loki ``level`` attribute value
    (`logs_to_loki.go:228-254`): TRACE(1-4)…FATAL4(21-24)."""
    n = int(severity_number)
    if not 1 <= n <= 24:
        return "UNSPECIFIED"
    band, sub = divmod(n - 1, 4)
    return _LEVELS[band] + (str(sub + 1) if sub else "")


def normalize_label(label: str) -> str:
    """prometheus NormalizeLabel (`normalize_label.go:27-53`) — the
    sanitize rune set is ASCII [a-zA-Z0-9] (Go unicode.IsLetter admits
    more, but prometheus label names only allow ASCII; the reference's
    sanitizeRune is reached through strings.Map over the label and any
    non-[a-zA-Z0-9_] byte must become '_' for the name to be valid)."""
    if not label:
        return label
    out = "".join(
        ch if (ch.isascii() and ch.isalnum()) else "_" for ch in label
    )
    if out[0].isdigit():
        out = "key_" + out
    elif out.startswith("_") and not out.startswith("__"):
        out = "key" + out
    return out


_GO_QUOTE_SHORT = {
    "\a": "\\a", "\b": "\\b", "\f": "\\f", "\n": "\\n",
    "\r": "\\r", "\t": "\\t", "\v": "\\v",
}


def _go_quote(s: str) -> str:
    """Go ``strconv.Quote`` (``%q``) for label values in
    LabelSet.String() and logfmt quoting — unlike encoding/json it does
    NOT HTML-escape (``<>&`` stay literal) and uses the ``\\a``/``\\v``
    shorthands plus ``\\xNN`` for other control bytes."""
    import re

    if not re.search(r'["\\\x00-\x1f\x7f]', s):
        return '"' + s + '"'
    out = ['"']
    for ch in s:
        o = ord(ch)
        if ch == '"':
            out.append('\\"')
        elif ch == "\\":
            out.append("\\\\")
        elif ch in _GO_QUOTE_SHORT:
            out.append(_GO_QUOTE_SHORT[ch])
        elif o < 0x20 or o == 0x7F:
            out.append(f"\\x{o:02x}")
        else:
            out.append(ch)
    out.append('"')
    return "".join(out)


def label_set_string(labels: dict) -> str:
    """prometheus model.LabelSet.String(): name-sorted ``k="v"`` pairs,
    ", "-joined, braced — the stream grouping key AND wire label field."""
    return "{" + ", ".join(
        f"{k}={_go_quote(str(labels[k]))}" for k in sorted(labels)
    ) + "}"


def _get_attribute(name: str, attrs: dict):
    """convert.go:98-118 — direct hit, else dotted nested-map descent
    trying the LONGEST left prefix first; the first prefix resolving to
    a map wins (even when the right half then misses)."""
    if name in attrs:
        return attrs[name]
    segs = name.split(".")
    for i in range(len(segs) - 1, 0, -1):
        left, right = ".".join(segs[:i]), ".".join(segs[i:])
        v = _get_attribute(left, attrs)
        if isinstance(v, dict):
            return _get_attribute(right, v)
    return None


def _parse_attribute_names(v) -> list[str]:
    if isinstance(v, (list, tuple)):
        return [str(a) for a in v]
    return str(v).split(",")


def _select_labels(attrs: dict, hint_value) -> dict:
    out = {}
    for name in _parse_attribute_names(hint_value):
        name = name.strip()
        v = _get_attribute(name, attrs)
        if v is not None:
            out[name] = str(v)
    return out


# ---------------------------------------------------------------- logfmt

def _logfmt_parse(line: str) -> list | None:
    """go-logfmt decode subset (`encode.go:214-227` uses it to try the
    body first): space-split tokens, ``k=v`` pairs with optional quoted
    values, bare tokens become empty-valued keys; None = parse error
    (malformed quoting) → caller falls back to ``msg``."""
    out: list = []
    i, n = 0, len(line)
    while i < n:
        while i < n and line[i] in " \t":
            i += 1
        if i >= n:
            break
        start = i
        while i < n and line[i] not in " \t=":
            i += 1
        key = line[start:i]
        val = ""
        if i < n and line[i] == "=":
            i += 1
            if i < n and line[i] == '"':
                j = i + 1
                buf = []
                while j < n and line[j] != '"':
                    if line[j] == "\\" and j + 1 < n:
                        nxt = line[j + 1]
                        buf.append({"n": "\n", "t": "\t", "r": "\r"}.get(nxt, nxt))
                        j += 2
                    else:
                        buf.append(line[j])
                        j += 1
                if j >= n:
                    return None  # unterminated quote
                val, i = "".join(buf), j + 1
            else:
                start = i
                while i < n and line[i] not in " \t":
                    i += 1
                val = line[start:i]
        if key:
            if '"' in key:
                return None
            out.extend([key, val])
    return out


def _logfmt_value(v) -> str:
    if v is None:
        return ""
    if isinstance(v, bool):
        return "true" if v else "false"
    s = str(v)
    # go-logfmt quotes when any rune is <= ' ' or '=' or '"'; the empty
    # string has no runes, so it stays unquoted (``key=``)
    if any(ch <= " " or ch in '="' for ch in s):
        return _go_quote(s)
    return s


def _logfmt_marshal(keyvals: list) -> str:
    parts = []
    for i in range(0, len(keyvals) - 1, 2):
        key = str(keyvals[i])
        if key == "" or any(ch <= " " or ch in '="' for ch in key):
            raise ValueError(f"invalid logfmt key {key!r}")
        parts.append(f"{key}={_logfmt_value(keyvals[i + 1])}")
    return " ".join(parts)


def _keyvals_replace_or_append(keyvals: list, key: str, value) -> list:
    for i in range(0, len(keyvals) - 1, 2):
        if keyvals[i] == key:
            keyvals[i + 1] = value
            return keyvals
    keyvals.extend([key, value])
    return keyvals


def _value_to_keyvals(key: str, v) -> list:
    if v is None:
        return []
    if isinstance(v, dict):
        prefix = key + "_" if key else ""
        out: list = []
        for k, vv in v.items():
            out.extend(_value_to_keyvals(prefix + k, vv))
        return out
    if isinstance(v, (list, tuple)):
        prefix = key + "_" if key else ""
        out = []
        for i, vv in enumerate(v):
            out.extend(_value_to_keyvals(f"{prefix}{i}", vv))
        return out
    return [key, v]


# --------------------------------------------------------------- entries

def _encode_json_line(rec: dict, attrs: dict, resource: dict) -> str:
    """`encode.go:42-76` — lokiEntry struct order with omitempty,
    encoding/json escaping, sorted map keys."""
    parts = []
    body = rec.get("body")
    if body is not None:
        parts.append(b'"body":' + go_json_value(body))
    tid = rec.get("trace_id") or ""
    if tid and set(tid) != {"0"}:
        parts.append(b'"traceid":' + go_json_string(tid))
    sid = rec.get("span_id") or ""
    if sid and set(sid) != {"0"}:
        parts.append(b'"spanid":' + go_json_string(sid))
    sev = rec.get("severity_text") or ""
    if sev:
        parts.append(b'"severity":' + go_json_string(sev))
    flags = int(rec.get("flags") or 0)
    if flags:
        parts.append(b'"flags":' + str(flags).encode())
    if attrs:
        parts.append(b'"attributes":' + go_json_value(attrs))
    if resource:
        parts.append(b'"resources":' + go_json_value(resource))
    scope_name = rec.get("scope_name") or ""
    if scope_name:
        sc = [b'"name":' + go_json_string(scope_name)]
        if rec.get("scope_version"):
            sc.append(b'"version":' + go_json_string(str(rec["scope_version"])))
        if rec.get("scope_attributes"):
            sc.append(b'"attributes":' + go_json_value(dict(rec["scope_attributes"])))
        parts.append(b'"instrumentation_scope":{' + b",".join(sc) + b"}")
    return (b"{" + b",".join(parts) + b"}").decode("utf-8")


def _encode_logfmt_line(rec: dict, attrs: dict, resource: dict) -> str:
    """`encode.go:98-131` — body keyvals (logfmt-parsed, msg fallback),
    traceID/spanID/severity/flags replace-or-append, then
    attribute_*/resource_*/instrumentation_scope_* keyvals."""
    body = rec.get("body")
    if body is None:
        keyvals: list = []
    elif isinstance(body, str):
        parsed = _logfmt_parse(body)
        keyvals = parsed if parsed is not None else ["msg", body]
    elif isinstance(body, dict):
        keyvals = _value_to_keyvals("", body)
    elif isinstance(body, (list, tuple)):
        keyvals = _value_to_keyvals("body", body)
    else:
        keyvals = ["msg", body]
    tid = rec.get("trace_id") or ""
    if tid and set(tid) != {"0"}:
        keyvals = _keyvals_replace_or_append(keyvals, "traceID", tid)
    sid = rec.get("span_id") or ""
    if sid and set(sid) != {"0"}:
        keyvals = _keyvals_replace_or_append(keyvals, "spanID", sid)
    if rec.get("severity_text"):
        keyvals = _keyvals_replace_or_append(keyvals, "severity",
                                             rec["severity_text"])
    if int(rec.get("flags") or 0):
        keyvals = _keyvals_replace_or_append(keyvals, "flags", int(rec["flags"]))
    for k, v in attrs.items():
        keyvals.extend(_value_to_keyvals(f"attribute_{k}", v))
    for k, v in resource.items():
        keyvals.extend(_value_to_keyvals(f"resource_{k}", v))
    if rec.get("scope_name"):
        keyvals.extend(["instrumentation_scope_name", rec["scope_name"]])
        if rec.get("scope_version"):
            keyvals.extend(["instrumentation_scope_version", rec["scope_version"]])
        for k, v in dict(rec.get("scope_attributes") or {}).items():
            keyvals.extend(_value_to_keyvals(f"instrumentation_scope_attribute_{k}", v))
    return _logfmt_marshal(keyvals)


def log_to_loki_entry(
    rec: dict, default_labels_enabled: dict | None = None
) -> dict | None:
    """One flat record → {tenant, labels (normalized string), label_map,
    ts_ns, line} (`logs_to_loki.go:124-162`). Returns None when the
    format hint is invalid (the reference drops the record and counts it
    in the PushReport)."""
    enabled = default_labels_enabled or {}

    def on(name: str) -> bool:
        return enabled.get(name, True)

    attrs = dict(rec.get("attributes") or {})
    resource = dict(rec.get("resource") or {})

    # tenant first — the hint names the attribute holding the tenant
    tenant = ""
    hint_attr = resource.get(_HINT_TENANT, attrs.get(_HINT_TENANT))
    if hint_attr is not None:
        tenant = str(resource.get(str(hint_attr),
                                  attrs.get(str(hint_attr), "")))

    # level attribute + hint (logs_to_loki.go:133-136,204-226)
    sev_num = int(rec.get("severity_number") or 0)
    if on("level") and sev_num != 0:
        hint = attrs.get(_HINT_ATTRIBUTES)
        if hint is None:
            attrs[_HINT_ATTRIBUTES] = "level"
        elif isinstance(hint, (list, tuple)):
            attrs[_HINT_ATTRIBUTES] = list(hint) + ["level"]
        else:
            attrs[_HINT_ATTRIBUTES] = f"{hint},level"
        if "level" not in attrs:
            attrs["level"] = severity_level(sev_num)

    fmt = str(resource.get(_HINT_FORMAT, attrs.get(_HINT_FORMAT, "json")))

    # merged labels (convert.go:37-59)
    merged: dict = {}
    if on("exporter"):
        merged["exporter"] = "OTLP"
    if on("job") and "service.name" in resource:
        job = str(resource["service.name"])
        if "service.namespace" in resource:
            job = f"{resource['service.namespace']}/{job}"
        merged["job"] = job
    if on("instance") and "service.instance.id" in resource:
        merged["instance"] = str(resource["service.instance.id"])
    if _HINT_RESOURCES in resource:
        merged.update(_select_labels(resource, resource[_HINT_RESOURCES]))
    if _HINT_RESOURCES in attrs:
        merged.update(_select_labels(resource, attrs[_HINT_RESOURCES]))
    if _HINT_ATTRIBUTES in attrs:
        merged.update(_select_labels(attrs, attrs[_HINT_ATTRIBUTES]))

    # remove hints + promoted keys from both maps (convert.go:139-148)
    for m in (attrs, resource):
        for k in list(m):
            if k in _HINTS or k in merged:
                del m[k]

    if fmt == "json":
        line = _encode_json_line(rec, attrs, resource)
    elif fmt == "logfmt":
        line = _encode_logfmt_line(rec, attrs, resource)
    elif fmt == "raw":
        body = rec.get("body")
        line = "" if body is None else str(body)
    else:
        return None  # convert.go:188 — dropped, counted in the report

    label_map = {normalize_label(k): str(v) for k, v in merged.items()}
    ts = int(rec.get("time_unix_nano") or 0) or int(
        rec.get("observed_time_unix_nano") or 0
    )
    return {
        "tenant": tenant,
        "labels": label_set_string(label_map),
        "label_map": label_map,
        "ts_ns": ts,
        "line": line,
    }


_ENTRY_SCHEMA = T.StructType(
    [
        T.StructField("tenant", T.StringType()),
        T.StructField("labels", T.StringType()),
        T.StructField("label_map", T.MapType(T.StringType(), T.StringType())),
        T.StructField("ts_ns", T.LongType()),
        T.StructField("line", T.StringType()),
    ]
)

_REC_COLS = (
    "time_unix_nano",
    "severity_number",
    "severity_text",
    "body",
    "attributes",
    "resource",
    "scope_name",
    "trace_id",
    "span_id",
)

# optional flat-record columns (the OTLP readers emit observed ts and
# flags; scope version/attributes appear on richer schemas) — passed
# through when present so the observed-fallback / flags / scope fields
# actually fire
_OPT_COLS = (
    "observed_time_unix_nano",
    "flags",
    "scope_version",
    "scope_attributes",
)


def loki_entries(
    df: DataFrame, default_labels_enabled: dict | None = None
) -> DataFrame:
    """Flat log records → per-record Loki entries (tenant, labels,
    label_map, ts_ns, line). PURE MAP — records whose format hint is
    invalid are dropped (the reference's PushReport-and-continue)."""
    work = df
    for c in _REC_COLS:
        if c not in df.columns:
            work = work.withColumn(
                c,
                F.lit("") if c in ("severity_text", "body", "scope_name",
                                   "trace_id", "span_id")
                else F.lit(None).cast(
                    "map<string,string>" if c in ("attributes", "resource")
                    else "long"
                ),
            )
    cols = list(_REC_COLS) + [c for c in _OPT_COLS if c in df.columns]

    def one(rec: dict) -> list[dict]:
        rec["attributes"] = dict(rec.get("attributes") or {})
        rec["resource"] = dict(rec.get("resource") or {})
        if "scope_attributes" in rec:
            rec["scope_attributes"] = dict(rec.get("scope_attributes") or {})
        e = log_to_loki_entry(rec, default_labels_enabled)
        return [] if e is None else [e]

    return map_records(work.select(*cols), one, _ENTRY_SCHEMA)


_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("tenant", T.StringType()),
        T.StructField("labels", T.StringType()),
        T.StructField("entry_count", T.LongType()),
        T.StructField("stream_json", T.StringType()),
    ]
)


def loki_push_streams(
    df: DataFrame, default_labels_enabled: dict | None = None
) -> DataFrame:
    """Entries → one row per (tenant, label set): the Loki JSON push-API
    stream object ``{"stream":{...},"values":[["<ts>","<line>"],...]}``
    with entries ts-sorted. ONE exchange on (tenant, labels); a tenant's
    push request body is ``{"streams":[...]}`` over its rows (the POST
    boundary), mirroring the per-tenant PushRequest grouping
    (`logs_to_loki.go:98-115`)."""
    entries = loki_entries(df, default_labels_enabled)

    def build(gkey: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts_ns", "line"], kind="mergesort")
        lm = pdf.iloc[0]["label_map"]
        stream = {
            "stream": dict(sorted(dict(lm).items())),
            "values": [
                [str(int(r.ts_ns)), r.line]
                for r in pdf.itertuples(index=False)
            ],
        }
        return pd.DataFrame(
            [
                {
                    "tenant": str(gkey[0]),
                    "labels": str(gkey[1]),
                    "entry_count": len(pdf),
                    "stream_json": json.dumps(
                        stream, separators=(",", ":"), ensure_ascii=False
                    ),
                }
            ]
        )

    return entries.groupBy("tenant", "labels").applyInPandas(
        build, _STREAM_SCHEMA
    )
