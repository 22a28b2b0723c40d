"""elasticsearchexporter marshaling parity — the exact NDJSON bulk bytes
the reference hands to go-elasticsearch's BulkIndexer, as a DataFrame of
(index, value) rows.

Reference behavior (`exporter/elasticsearchexporter/`):

- ``encodeLog`` builds an intermediate Document from a log record and
  serializes it to JSON (`model.go:42-120`). Default ("none") mapping
  emits ``@timestamp`` (record ts, observed ts when the record ts is 0),
  ``TraceId``/``SpanId`` (hex, omitted when empty), ``TraceFlags``,
  ``SeverityText`` (omitted when empty), ``SeverityNumber``, ``Body``,
  then flattens record attributes under ``Attributes.``, resource
  attributes under ``Resource.`` and scope name/version/attributes under
  ``Scope.`` (`model.go:94-108`, `objmodel.go:512-540`);
- ECS mapping emits ``@timestamp``, ``trace.id``/``span.id``,
  ``event.severity`` (when non-zero), ``log.level`` (when non-empty),
  ``message`` (string bodies only) and all resource/scope/record
  attributes at the top level with the ``exception.* -> error.*`` field
  renames (`model.go:46-93`);
- ``mapping.dedup`` (default true) sorts the flattened fields, renames a
  primitive overwritten by an object to ``<key>.value``, and keeps the
  LAST value per duplicate key (`objmodel.go:193-237`);
- ``mapping.dedot`` (default true) serializes dotted keys as nested
  objects via a streaming prefix open/close walk (`objmodel.go:281-368`);
  timestamps format as ``2006-01-02T15:04:05.000000000Z`` — nine
  fractional digits, UTC (`objmodel.go:86,476`); nil/empty-array/empty-
  object values are skipped and NaN/Inf doubles serialize as null
  (`objmodel.go:446-472`);
- each document ships as a bulk ``create`` action:
  ``{"create":{"_index":"<index>"}}`` followed by the document line
  (`elasticsearch_bulk.go:190`, `logs_exporter.go:34`);
- the index is static (``logs_index``, default ``logs-generic-default``)
  unless ``logs_dynamic_index`` prepends/appends the
  ``elasticsearch.index.prefix`` / ``.suffix`` attributes (resource wins
  over scope over record, `attribute.go:22-41`, `logs_exporter.go:112-118`)
  and/or ``logstash_format`` suffixes a strftime date
  (`util.go:14-28`, default separator ``-``, format ``%Y.%m.%d``).

Divergences, both deliberate:

- the reference stamps the logstash date with ``time.Now()``
  (`logs_exporter.go:121`); a deterministic batch engine derives it from
  the RECORD timestamp instead, so re-running a corpus routes every row
  to the same index;
- string escaping follows go-structform's JSON writer (``"``, ``\\``,
  control chars), i.e. no ``encoding/json``-style HTML escaping — the
  reference serializes through structform (`objmodel.go:43`), not
  ``encoding/json``.

The Spark surface is a PURE MAP: one ``map_records`` pass row→bytes,
zero exchanges, so bulk marshaling composes into any scan stage. Actually
POSTing is one ``foreachPartition`` HTTP loop where a cluster has an ES
endpoint; the BYTES are the tested surface here (golden tests + a full
value oracle rebuild the NDJSON in SQL).
"""

from __future__ import annotations

import math
from datetime import datetime, timezone

from pyspark.sql import DataFrame, functions as F, types as T

from ..functions.records import map_records

__all__ = [
    "encode_log_document",
    "bulk_create_action",
    "resolve_index",
    "es_bulk_messages",
    "Doc",
    "Ts",
]

_NIL = object()  # KindNil — serializes as skipped field / null in arrays


def _fmt_ts(ns: int) -> str:
    """`objmodel.go:86` tsLayout — nine fractional digits, UTC, Z."""
    sec, frac = divmod(int(ns), 1_000_000_000)
    dt = datetime.fromtimestamp(sec, tz=timezone.utc)
    return dt.strftime("%Y-%m-%dT%H:%M:%S") + f".{frac:09d}Z"


def _jstr(s: str) -> str:
    """structform-style minimal JSON string escaping (no HTML escapes).

    ``json.dumps(ensure_ascii=False)`` emits exactly this set — ``"``,
    ``\\``, control chars (shorthand ``\\n/\\r/\\t/\\b/\\f`` where one
    exists), everything else literal UTF-8 — and is C-implemented: the
    marshal hot path is dominated by string escaping at bench scale."""
    import json

    return json.dumps(s, ensure_ascii=False)


def _is_empty(v) -> bool:
    """`objmodel.go:446-457` — nil, empty array, empty object skip."""
    if v is _NIL:
        return True
    if isinstance(v, list):
        return len(v) == 0
    if isinstance(v, Doc):
        return len(v.fields) == 0
    return False


def _ser_value(v) -> str:
    """Serialize one Value (`objmodel.go:459-498`). Objects nested inside
    arrays always serialize dedotted (`objmodel.go:273` passes true)."""
    if v is _NIL or v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v) or math.isinf(v):
            return "null"  # objmodel.go:468-471
        import json

        return json.dumps(v)
    if isinstance(v, str):
        return _jstr(v)
    if isinstance(v, Ts):
        return _jstr(_fmt_ts(v.ns))
    if isinstance(v, list):
        return "[" + ",".join(_ser_value(e) for e in v) + "]"
    if isinstance(v, Doc):
        if not v.fields:
            return "null"  # objmodel.go:479-481
        return v.serialize(dedot=True)
    raise TypeError(f"unsupported document value {type(v)!r}")


class Ts:
    """KindTimestamp marker (int nanos), formatted at serialize time."""

    __slots__ = ("ns",)

    def __init__(self, ns: int):
        self.ns = int(ns)


def _convert(v):
    """ValueFromAttribute (`objmodel.go:398-418`): dict → flattened
    sub-document, list → array of converted values, None → nil."""
    if v is None:
        return _NIL
    if isinstance(v, dict):
        d = Doc()
        d.add_attributes("", v)
        return d
    if isinstance(v, (list, tuple)):
        return [_convert(e) for e in v]
    if isinstance(v, (bool, int, float, str, Ts)):
        return v
    return str(v)


def _flatten_key(path: str, key: str) -> str:
    return key if path == "" else f"{path}.{key}"


class Doc:
    """objmodel.Document: ordered (dotted-key, value) fields with the
    reference's Sort/Dedup/Serialize semantics."""

    __slots__ = ("fields",)

    def __init__(self):
        self.fields: list[list] = []  # [key, value] pairs, mutable

    # -- builders (objmodel.go:111-166) -----------------------------------
    def add(self, key: str, value) -> None:
        self.fields.append([key, value])

    def add_string(self, key: str, v: str) -> None:
        if v != "" and v is not None:
            self.add(key, str(v))

    def add_int(self, key: str, v: int) -> None:
        self.add(key, int(v))

    def add_timestamp(self, key: str, ns: int) -> None:
        self.add(key, Ts(ns))

    def add_id(self, key: str, hexid: str) -> None:
        """AddTraceID/AddSpanID: skip empty (all-zero) ids
        (`objmodel.go:128-142`; pcommon IsEmpty = zero bytes)."""
        if hexid and set(hexid) != {"0"}:
            self.add_string(key, hexid.lower())

    def add_attribute(self, key: str, v) -> None:
        """AddAttribute (`objmodel.go:155-166`): None (Empty) skipped,
        maps flattened in place, everything else converted."""
        if v is None:
            return
        if isinstance(v, dict):
            self.add_attributes(key, v)
            return
        self.add(key, _convert(v))

    def add_attributes(self, path: str, mapping: dict) -> None:
        """appendAttributeFields (`objmodel.go:512-533`)."""
        for k, v in mapping.items():
            if v is None:
                continue
            if isinstance(v, dict):
                self.add_attributes(_flatten_key(path, k), v)
            else:
                self.fields.append([_flatten_key(path, k), _convert(v)])

    # -- normalization (objmodel.go:177-237) ------------------------------
    def sort(self) -> None:
        self.fields.sort(key=lambda f: f[0])  # python sort is stable
        for f in self.fields:
            _sort_value(f[1])

    def dedup(self) -> None:
        self.sort()
        # rename primitives overwritten by an object: (x=1, x.a=2) →
        # (x.value=1, x.a=2), then re-sort (objmodel.go:211-221)
        renamed = False
        for i in range(len(self.fields) - 1):
            key, nxt = self.fields[i][0], self.fields[i + 1][0]
            if len(key) < len(nxt) and nxt.startswith(key) and nxt[len(key)] == ".":
                self.fields[i][0] = key + ".value"
                renamed = True
        if renamed:
            self.sort()
        # duplicates: keep the LAST (objmodel.go:227-231)
        drop = {
            i
            for i in range(len(self.fields) - 1)
            if self.fields[i][0] == self.fields[i + 1][0]
        }
        if drop:
            self.fields = [f for i, f in enumerate(self.fields) if i not in drop]
        for f in self.fields:
            _dedup_value(f[1])

    # -- serialization (objmodel.go:242-368) -------------------------------
    def serialize(self, dedot: bool) -> str:
        return self._ser_dedot() if dedot else self._ser_flat()

    def _ser_flat(self) -> str:
        parts = []
        for key, val in self.fields:
            if _is_empty(val):
                continue
            parts.append(f"{_jstr(key)}:{_ser_value(val)}")
        return "{" + ",".join(parts) + "}"

    def _ser_dedot(self) -> str:
        """Streaming prefix walk (`objmodel.go:281-368`): fields MUST be
        sorted; shared dotted prefixes become nested objects, closing
        levels exactly when the common prefix shrinks."""
        out = ["{"]
        obj_prefix = ""
        level = 0
        first_at_level = [True]

        def emit_key(name: str) -> None:
            if not first_at_level[-1]:
                out.append(",")
            first_at_level[-1] = False
            out.append(_jstr(name))
            out.append(":")

        for key, val in self.fields:
            if _is_empty(val):
                continue
            # close levels until obj_prefix is a prefix of key ending at '.'
            common = 0
            limit = min(len(key), len(obj_prefix))
            while common < limit and key[common] == obj_prefix[common]:
                common += 1
            if common < len(obj_prefix):
                L = common
                while L > 0 and key[L - 1] != ".":
                    L -= 1
                for seg in obj_prefix[L:].split("."):
                    if seg == "":
                        continue
                    level -= 1
                    out.append("}")
                    first_at_level.pop()
                obj_prefix = key[:L]
            # open levels down to the field
            while True:
                start = len(obj_prefix)
                idx = key.find(".", start)
                if idx < 0:
                    break
                emit_key(key[start:idx])
                out.append("{")
                first_at_level.append(True)
                level += 1
                obj_prefix = key[: idx + 1]
            emit_key(key[len(obj_prefix):])
            out.append(_ser_value(val))
        for _ in range(level):
            out.append("}")
        out.append("}")
        return "".join(out)


def _sort_value(v) -> None:
    if isinstance(v, Doc):
        v.sort()
    elif isinstance(v, list):
        for e in v:
            _sort_value(e)


def _dedup_value(v) -> None:
    if isinstance(v, Doc):
        v.dedup()
    elif isinstance(v, list):
        for e in v:
            _dedup_value(e)


_ECS_FIELD_MAP = {
    # model.go:66-77 fieldMapper
    "exception.type": "error.type",
    "exception.message": "error.message",
    "exception.stacktrace": "error.stack_trace",
}


def encode_log_document(
    rec: dict,
    *,
    mode: str = "none",
    dedup: bool = True,
    dedot: bool = True,
) -> bytes:
    """One log record → the exact document bytes ``encodeLog`` emits
    (`model.go:42-120`). ``rec`` is the repo's flat record shape
    (time_unix_nano, observed_time_unix_nano?, severity_number,
    severity_text, body, attributes, resource, scope_name,
    scope_version?, scope_attributes?, trace_id, span_id, flags?)."""
    doc = Doc()
    ts = int(rec.get("time_unix_nano") or 0)
    observed = int(rec.get("observed_time_unix_nano") or 0)
    scope_name = rec.get("scope_name") or ""
    scope_version = rec.get("scope_version") or ""
    scope_attrs = dict(rec.get("scope_attributes") or {})
    attrs = dict(rec.get("attributes") or {})
    resource = dict(rec.get("resource") or {})

    if mode == "ecs":
        doc.add_timestamp("@timestamp", ts if ts != 0 else observed)
        doc.add_id("trace.id", rec.get("trace_id") or "")
        doc.add_id("span.id", rec.get("span_id") or "")
        sev = int(rec.get("severity_number") or 0)
        if sev != 0:
            doc.add_int("event.severity", sev)
        doc.add_string("log.level", rec.get("severity_text") or "")
        body = rec.get("body")
        if isinstance(body, str):
            doc.add_attribute("message", body)
        for m in (resource, scope_attrs, attrs):
            for k, v in m.items():
                doc.add_attribute(_ECS_FIELD_MAP.get(k, k), v)
    else:
        doc.add_timestamp("@timestamp", ts if ts != 0 else observed)
        doc.add_id("TraceId", rec.get("trace_id") or "")
        doc.add_id("SpanId", rec.get("span_id") or "")
        doc.add_int("TraceFlags", int(rec.get("flags") or 0))
        doc.add_string("SeverityText", rec.get("severity_text") or "")
        doc.add_int("SeverityNumber", int(rec.get("severity_number") or 0))
        doc.add_attribute("Body", rec.get("body"))
        # MappingRaw drops the "Attributes" prefix (model.go:151-157)
        doc.add_attributes("" if mode == "raw" else "Attributes", attrs)
        doc.add_attributes("Resource", resource)
        scope_map = {"name": scope_name, "version": scope_version}
        scope_map.update(scope_attrs)  # scopeToAttributes, model.go:187-195
        doc.add_attributes("Scope", scope_map)

    if dedup:
        doc.dedup()
    elif dedot:
        doc.sort()
    return doc.serialize(dedot=dedot).encode("utf-8")


def bulk_create_action(index: str) -> bytes:
    """The bulk action line (`elasticsearch_bulk.go:190`, action
    ``create``)."""
    return b'{"create":{"_index":' + _jstr(index).encode("utf-8") + b"}}"


def resolve_index(
    rec: dict,
    *,
    index: str = "logs-generic-default",
    dynamic_index: bool = False,
    logstash_format: bool = False,
    prefix_separator: str = "-",
    date_format: str = "%Y.%m.%d",
) -> str:
    """Per-record index routing (`logs_exporter.go:111-126`): dynamic
    prefix/suffix attributes (resource wins over record,
    `attribute.go:22-41`), then the logstash date suffix — derived from
    the RECORD timestamp (deterministic analog of the reference's
    ``time.Now()``, see module docstring)."""
    fidx = index
    if dynamic_index:
        res = rec.get("resource") or {}
        attrs = rec.get("attributes") or {}

        def get(name: str) -> str:
            v = res.get(name)
            if v is None:
                v = attrs.get(name)
            return "" if v is None else str(v)

        prefix = get("elasticsearch.index.prefix")
        suffix = get("elasticsearch.index.suffix")
        fidx = f"{prefix}{fidx}{suffix}"
    if logstash_format:
        ns = int(rec.get("time_unix_nano") or 0)
        dt = datetime.fromtimestamp(ns // 1_000_000_000, tz=timezone.utc)
        fidx = f"{fidx}{prefix_separator}{dt.strftime(date_format)}"
    return fidx


_BULK_SCHEMA = T.StructType(
    [
        T.StructField("index", T.StringType()),
        T.StructField("value", T.BinaryType()),
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

# optional flat-record columns passed through when the input carries
# them, so TraceFlags / the observed-ts fallback / scope version+attrs
# serialize instead of silently defaulting
_OPT_COLS = (
    "flags",
    "observed_time_unix_nano",
    "scope_version",
    "scope_attributes",
)


def es_bulk_messages(
    df: DataFrame,
    *,
    index: str = "logs-generic-default",
    mode: str = "none",
    dedup: bool = True,
    dedot: bool = True,
    dynamic_index: bool = False,
    logstash_format: bool = False,
    prefix_separator: str = "-",
    date_format: str = "%Y.%m.%d",
) -> DataFrame:
    """Marshal a flat log-record DataFrame into ES bulk rows
    (index string, value binary) where ``value`` is the two NDJSON lines
    the bulk indexer sends per record: the ``create`` action and the
    document, each newline-terminated. A PURE MAP — no exchange; POST-ing
    concatenates a partition's values into request bodies."""
    if mode not in ("none", "ecs", "raw"):
        raise ValueError(f"unknown mapping mode {mode!r}")  # config.go:233
    cols = df.columns
    work = df
    if "scope_name" not in cols:
        work = work.withColumn("scope_name", F.lit(""))
    for c in ("trace_id", "span_id"):
        if c not in cols:
            work = work.withColumn(c, F.lit(""))

    rec_cols = list(_REC_COLS) + [c for c in _OPT_COLS if c in cols]

    def one(rec: dict) -> list[dict]:
        rec["attributes"] = dict(rec.get("attributes") or {})
        rec["resource"] = dict(rec.get("resource") or {})
        if "scope_attributes" in rec:
            rec["scope_attributes"] = dict(rec.get("scope_attributes") or {})
        fidx = resolve_index(
            rec,
            index=index,
            dynamic_index=dynamic_index,
            logstash_format=logstash_format,
            prefix_separator=prefix_separator,
            date_format=date_format,
        )
        doc = encode_log_document(rec, mode=mode, dedup=dedup, dedot=dedot)
        value = bulk_create_action(fidx) + b"\n" + doc + b"\n"
        return [{"index": fidx, "value": value}]

    return map_records(work.select(*rec_cols), one, _BULK_SCHEMA)
