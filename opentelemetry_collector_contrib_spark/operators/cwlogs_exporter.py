"""AWS CloudWatch Logs exporter parity — log records → PutLogEvents
batches (marshaled message JSON + per-stream batching).

Reference behavior:

- message marshal (`exporter/awscloudwatchlogsexporter/exporter.go:
  160-250`): non-raw mode renders the ``cwLogBody`` struct in field
  order ``body, severity_number, severity_text,
  dropped_attributes_count, flags, trace_id, span_id, attributes,
  scope, resource`` with Go ``omitempty`` semantics (ints omit 0,
  strings omit "", maps omit empty, ``body`` is an interface — only
  nil is omitted, an empty string body stays); attribute maps are
  Go-JSON (sorted keys, HTML escaping); ``scope`` appears only when
  the scope name is non-empty. Raw mode passes the body string
  through and sniffs EMF metadata: a JSON-object body whose ``_aws``
  object carries a non-empty ``logGroupName`` overrides the
  group (and stream when ``logStreamName`` is non-empty) — v1 takes
  precedence over the v0 top-level ``log_group_name`` /
  ``log_stream_name`` form; any type mismatch in those fields makes
  Go's json.Unmarshal fail, which the reference treats as "not EMF".
- event validation (`internal/aws/cwlogs/pusher.go:63-96`): payload =
  len(message)+26 bytes; over 256 KiB → truncate the message to
  (256 KiB − 26 − len("[Truncated...]")) bytes and append the
  suffix; timestamp 0 → the event's generated time; events older
  than 14 days or more than 2 hours in the future (vs now) error and
  are dropped (the caller logs and continues, `exporter.go:148-155`).
- batching (`pusher.go:103-174`): one running batch per
  (logGroupName, logStreamName); a new batch starts when the running
  one holds 10000 events, when adding the next event would push its
  byte total over the cap, or when the next event's timestamp is
  more than 24 h from the batch's min/max. The reference's byte cap
  compares against ``maxEventPayloadBytes`` (256 KiB) — NOT the
  1 MiB request cap its own comment cites (`pusher.go:126-128`);
  this rebuild preserves that quirk (callers can override the cap).
  At flush each batch is stable-sorted by timestamp.

Divergences (documented): truncation slices the UTF-8 byte sequence
like Go; when the cut lands inside a multibyte character this rebuild
backs up to the previous character boundary (Go emits the split
bytes; Spark strings must stay valid UTF-8). ``GeneratedTime`` /
``time.Now()`` are caller-supplied for determinism.

Spark shape: marshal is one ``map_records`` pass; batching is
one exchange keyed by (group, stream) — the per-stream pusher is
sequential in the reference too, so streams are the parallel unit at
100 TB — then ``applyInPandas`` replays the sequential batch state
machine per stream.
"""

from __future__ import annotations

import json
from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..functions.gofmt import go_json_value
from ..functions.records import map_records

__all__ = [
    "DEFAULT_MAX_BATCH_BYTES",
    "DEFAULT_MAX_BATCH_EVENTS",
    "DEFAULT_MAX_EVENT_BYTES",
    "assign_cwlog_batches",
    "cwlog_body_json",
    "cwlog_events",
    "put_log_events_inputs",
    "resolve_emf_destination",
    "validate_cwlog_event",
]

PER_EVENT_HEADER_BYTES = 26
TRUNCATED_SUFFIX = "[Truncated...]"
DEFAULT_MAX_EVENT_BYTES = 256 * 1024
# pusher.go:126-128 quirk: the running-batch byte cap is the EVENT cap
DEFAULT_MAX_BATCH_BYTES = 256 * 1024
DEFAULT_MAX_BATCH_EVENTS = 10000
_PAST_LIMIT_MS = 14 * 24 * 3600 * 1000
_FUTURE_LIMIT_MS = 2 * 3600 * 1000
_DAY_MS = 24 * 3600 * 1000


def cwlog_body_json(rec: dict) -> str:
    """cwLogBody marshal (`exporter.go:163-250`): struct field order,
    omitempty, Go-JSON attribute maps."""
    parts: list[bytes] = []

    def put(key: str, rendered: bytes) -> None:
        parts.append(b'"' + key.encode() + b'":' + rendered)

    if rec.get("body") is not None:
        put("body", go_json_value(rec["body"]))
    if rec.get("severity_number"):
        put("severity_number", str(int(rec["severity_number"])).encode())
    if rec.get("severity_text"):
        put("severity_text", go_json_value(rec["severity_text"]))
    if rec.get("dropped_attributes_count"):
        put(
            "dropped_attributes_count",
            str(int(rec["dropped_attributes_count"])).encode(),
        )
    if rec.get("flags"):
        put("flags", str(int(rec["flags"])).encode())
    if rec.get("trace_id"):
        put("trace_id", go_json_value(rec["trace_id"]))
    if rec.get("span_id"):
        put("span_id", go_json_value(rec["span_id"]))
    if rec.get("attributes"):
        put("attributes", go_json_value(dict(rec["attributes"])))
    scope_name = rec.get("scope_name") or ""
    if scope_name:
        sparts: list[bytes] = [b'"name":' + go_json_value(scope_name)]
        if rec.get("scope_version"):
            sparts.append(b'"version":' + go_json_value(rec["scope_version"]))
        if rec.get("scope_attributes"):
            sparts.append(
                b'"attributes":'
                + go_json_value(dict(rec["scope_attributes"]))
            )
        put("scope", b"{" + b",".join(sparts) + b"}")
    if rec.get("resource"):
        put("resource", go_json_value(dict(rec["resource"])))
    return (b"{" + b",".join(parts) + b"}").decode("utf-8")


def resolve_emf_destination(
    body: str, group: str, stream: str
) -> tuple[str, str]:
    """Raw-log EMF sniff (`exporter.go:185-204`): returns the resolved
    (group, stream). Type mismatches = Go Unmarshal error = not EMF."""
    try:
        meta = json.loads(body)
    except ValueError:
        return group, stream
    if not isinstance(meta, dict):
        return group, stream
    aws = meta.get("_aws")
    v1_group = v1_stream = v0_group = v0_stream = ""
    if aws is not None:
        if not isinstance(aws, dict):
            return group, stream
        v1_group = aws.get("logGroupName", "")
        v1_stream = aws.get("logStreamName", "")
        if not isinstance(v1_group, str) or not isinstance(v1_stream, str):
            return group, stream
    v0_group = meta.get("log_group_name", "")
    v0_stream = meta.get("log_stream_name", "")
    if not isinstance(v0_group, str) or not isinstance(v0_stream, str):
        return group, stream
    if v1_group:
        return v1_group, v1_stream or stream
    if v0_group:
        return v0_group, v0_stream or stream
    return group, stream


def validate_cwlog_event(
    message: str,
    timestamp_ms: int,
    now_ms: int,
    generated_time_ms: int = 0,
    max_event_bytes: int = DEFAULT_MAX_EVENT_BYTES,
) -> Optional[tuple[str, int]]:
    """Event.Validate (`pusher.go:63-96`): truncate oversized messages,
    default a zero timestamp, drop out-of-window events. Returns the
    (message, timestamp_ms) to push, or None when dropped."""
    raw = message.encode("utf-8")
    if len(raw) + PER_EVENT_HEADER_BYTES > max_event_bytes:
        keep = max_event_bytes - PER_EVENT_HEADER_BYTES - len(TRUNCATED_SUFFIX)
        cut = raw[:keep]
        # back up to a character boundary (documented divergence)
        message = cut.decode("utf-8", errors="ignore") + TRUNCATED_SUFFIX
    if timestamp_ms == 0:
        timestamp_ms = generated_time_ms
    if not message:
        return None
    age = now_ms - timestamp_ms
    if age > _PAST_LIMIT_MS or age < -_FUTURE_LIMIT_MS:
        return None
    return message, timestamp_ms


_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("group_name", T.StringType()),
        T.StructField("stream_name", T.StringType()),
        T.StructField("arrival", T.LongType()),
        T.StructField("timestamp_ms", T.LongType()),
        T.StructField("message", T.StringType()),
    ]
)


def cwlog_events(
    df: DataFrame,
    log_group_name: str,
    log_stream_name: str,
    order_col: str = "arrival",
    raw_log: bool = False,
    now_ms: int = 0,
    generated_time_ms: int = 0,
    max_event_bytes: int = DEFAULT_MAX_EVENT_BYTES,
) -> DataFrame:
    """Flat log-record rows → validated CloudWatch events
    (group, stream, arrival, timestamp_ms, message). Zero-shuffle.

    Expects flat-record columns (``body``, ``severity_number``,
    ``severity_text``, ``attributes``, ``resource``, ``scope_name``,
    ``scope_version``, ``scope_attributes``, ``trace_id``, ``span_id``,
    ``flags``, ``dropped_attributes_count``, ``time_unix_nano``) —
    missing ones are treated as unset, like pdata zero values."""

    def one(rec: dict) -> list[dict]:
        ts_ms = int(rec.get("time_unix_nano") or 0) // 1_000_000
        group, stream = log_group_name, log_stream_name
        if raw_log:
            body = rec.get("body")
            body = "" if body is None else str(body)
            group, stream = resolve_emf_destination(body, group, stream)
            message = body
        else:
            message = cwlog_body_json(rec)
        v = validate_cwlog_event(
            message, ts_ms, now_ms, generated_time_ms, max_event_bytes
        )
        if v is None:
            return []
        return [
            {
                "group_name": group,
                "stream_name": stream,
                "arrival": int(rec[order_col]),
                "timestamp_ms": v[1],
                "message": v[0],
            }
        ]

    return map_records(df, one, _EVENT_SCHEMA)


_BATCHED_SCHEMA = T.StructType(
    _EVENT_SCHEMA.fields
    + [
        T.StructField("batch_id", T.IntegerType()),
        T.StructField("seq", T.IntegerType()),
    ]
)


def assign_cwlog_batches(
    events: DataFrame,
    max_batch_events: int = DEFAULT_MAX_BATCH_EVENTS,
    max_batch_bytes: int = DEFAULT_MAX_BATCH_BYTES,
) -> DataFrame:
    """Per-stream batch assignment (`pusher.go:103-174`): replays the
    sequential pusher per (group, stream) in arrival order — new batch
    on the event-count cap, the byte cap (256 KiB quirk preserved as
    the default), or a >24 h timestamp spread; events within a batch
    get ``seq`` = their position after the stable timestamp sort. One
    exchange keyed by stream."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("arrival", kind="stable").reset_index(drop=True)
        batch_ids: list[int] = []
        bid = 0
        count = 0
        byte_total = 0
        min_ts = 0
        max_ts = 0
        for message, timestamp_ms in zip(pdf["message"], pdf["timestamp_ms"]):
            size = len(str(message).encode("utf-8")) + PER_EVENT_HEADER_BYTES
            ts = int(timestamp_ms)
            active = not (
                min_ts and max_ts
                and (ts - min_ts > _DAY_MS or max_ts - ts > _DAY_MS)
            )
            if count > 0 and (
                count >= max_batch_events
                or byte_total + size > max_batch_bytes
                or not active
            ):
                bid += 1
                count = 0
                byte_total = 0
                min_ts = 0
                max_ts = 0
            batch_ids.append(bid)
            count += 1
            byte_total += size
            if min_ts == 0 or ts < min_ts:
                min_ts = ts
            if max_ts == 0 or ts > max_ts:
                max_ts = ts
        pdf["batch_id"] = pd.Series(batch_ids, dtype="int32")
        pdf["seq"] = (
            pdf.groupby("batch_id")["timestamp_ms"]
            .rank(method="first")
            .astype("int32")
            - 1
        )
        return pdf

    return events.groupBy("group_name", "stream_name").applyInPandas(
        fn, _BATCHED_SCHEMA
    )


def put_log_events_inputs(batched: DataFrame) -> DataFrame:
    """Assemble one row per PutLogEvents call: the timestamp-sorted
    event array plus byte/count totals (JVM-side aggregate)."""
    ev = F.struct(
        F.col("seq"), F.col("timestamp_ms"), F.col("message")
    )
    return (
        batched.groupBy("group_name", "stream_name", "batch_id")
        .agg(
            F.sort_array(F.collect_list(ev)).alias("log_events"),
            F.count("*").cast("int").alias("event_count"),
            (
                F.sum(F.octet_length("message"))
                + F.count("*") * PER_EVENT_HEADER_BYTES
            ).cast("long").alias("byte_total"),
        )
        .select(
            "group_name",
            "stream_name",
            "batch_id",
            F.transform(
                "log_events",
                lambda s: F.struct(
                    s["timestamp_ms"].alias("timestamp_ms"),
                    s["message"].alias("message"),
                ),
            ).alias("log_events"),
            "event_count",
            "byte_total",
        )
    )
