"""Mezmo (LogDNA) exporter parity — log records → Mezmo ingest lines
and the batched POST bodies.

Reference behavior (`exporter/mezmoexporter/exporter.go:76-166`,
`utils.go`, size caps `config.go:27-31`):

- one line per record: ``timestamp`` = epoch-ms (0 → time.Now, pinned
  via ``now_ms`` here), ``line`` = ``body.Str()`` truncated to 16 KiB,
  ``app`` = the ``appname`` log attribute (`.Str()` — "" when absent
  or non-string) truncated to 512, ``level`` = severity text truncated
  to 80 with "" → "info";
- ``meta``: ``hostname`` from the resource's ``host.name``
  (``AsString``), ``trace.id``/``span.id`` hex when non-empty, then
  every log attribute via ``v.Str()`` — NON-STRING attribute values
  become "" (pdata ``Str()`` zero value), and a log attribute named
  ``hostname``/``trace.id`` overwrites the derived entry — each value
  truncated to 32 KiB;
- line JSON: struct field order ``timestamp, line, app, level, meta``
  with no omitempty (empty meta stays ``{}``), Go-JSON map sorting +
  HTML escaping;
- bodies (`exporter.go:139-166`): ``{"lines": [`` + comma-joined
  lines + ``]}``; BEFORE appending a line, if the running buffer plus
  that line would reach (10 MiB − 2) the buffer is flushed with its
  trailing comma stripped. The reference appends the comma after
  every non-final line, so a flushed batch always ends in one; this
  replay preserves that byte-level behavior (including the final
  batch's ``]}`` append).

Divergences (documented): truncation backs up to a UTF-8 character
boundary when Go's byte slice would split a codepoint; Go map-walk
ordering of ``log.Attributes().Range`` is replaced by column order
(deterministic; affects only which duplicate key wins, and duplicate
keys cannot exist within one attribute map).

Spark shape: line marshal = one ``map_records`` pass; body
assembly replays the sequential builder per ``batch_key`` via
``applyInPandas`` (batches are the unit the reference POSTs per
consumer call, so batch keys are the parallel unit).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, types as T

from ..functions.gofmt import go_json_value
from ..functions.records import map_records

__all__ = [
    "MAX_APPNAME_LEN",
    "MAX_BODY_SIZE",
    "MAX_LOG_LEVEL_LEN",
    "MAX_MESSAGE_SIZE",
    "MAX_META_DATA_SIZE",
    "mezmo_bodies",
    "mezmo_line_json",
    "mezmo_lines",
    "truncate_string",
]

MAX_BODY_SIZE = 10 * 1024 * 1024
MAX_MESSAGE_SIZE = 16 * 1024
MAX_META_DATA_SIZE = 32 * 1024
MAX_APPNAME_LEN = 512
MAX_LOG_LEVEL_LEN = 80


def truncate_string(s: str, max_bytes: int) -> str:
    """`utils.go:8-14` (byte-length cut; backs up to a char boundary —
    documented divergence)."""
    raw = s.encode("utf-8")
    if len(raw) < max_bytes:
        return s
    return raw[:max_bytes].decode("utf-8", errors="ignore")


def mezmo_line_json(rec: dict, now_ms: int = 0) -> tuple[int, str]:
    """One flat record → (timestamp_ms, line JSON). Field order and
    Go-JSON map rendering per ``mezmoLogLine`` (`exporter.go:33-39`)."""
    attrs = dict(rec.get("attributes") or {})
    resource = dict(rec.get("resource") or {})
    meta: dict[str, str] = {}
    if "host.name" in resource:
        meta["hostname"] = str(resource["host.name"])
    if rec.get("trace_id"):
        meta["trace.id"] = str(rec["trace_id"])
    if rec.get("span_id"):
        meta["span.id"] = str(rec["span_id"])
    for k, v in attrs.items():
        sval = v if isinstance(v, str) else ""  # pdata Str() zero value
        meta[k] = truncate_string(sval, MAX_META_DATA_SIZE)

    app = attrs.get("appname")
    app = app if isinstance(app, str) else ""

    ts = int(rec.get("time_unix_nano") or 0) // 1_000_000
    if ts == 0:
        ts = now_ms

    level = truncate_string(str(rec.get("severity_text") or ""),
                            MAX_LOG_LEVEL_LEN)
    if not level:
        level = "info"

    body = rec.get("body")
    body = body if isinstance(body, str) else ""

    line = (
        b'{"timestamp":' + str(ts).encode()
        + b',"line":' + go_json_value(truncate_string(body,
                                                       MAX_MESSAGE_SIZE))
        + b',"app":' + go_json_value(truncate_string(app, MAX_APPNAME_LEN))
        + b',"level":' + go_json_value(level)
        + b',"meta":' + go_json_value(meta)
        + b"}"
    )
    return ts, line.decode("utf-8")


_LINE_SCHEMA = T.StructType(
    [
        T.StructField("batch_key", T.StringType()),
        T.StructField("arrival", T.LongType()),
        T.StructField("timestamp_ms", T.LongType()),
        T.StructField("line_json", T.StringType()),
    ]
)


def mezmo_lines(
    df: DataFrame,
    batch_key_col: str = "batch_key",
    order_col: str = "arrival",
    now_ms: int = 0,
) -> DataFrame:
    """Flat log-record rows → marshaled Mezmo lines. Zero-shuffle."""

    def one(rec: dict) -> list[dict]:
        ts, line = mezmo_line_json(rec, now_ms)
        return [
            {
                "batch_key": str(rec.get(batch_key_col, "")),
                "arrival": int(rec[order_col]),
                "timestamp_ms": ts,
                "line_json": line,
            }
        ]

    return map_records(df, one, _LINE_SCHEMA)


_BODY_SCHEMA = T.StructType(
    [
        T.StructField("batch_key", T.StringType()),
        T.StructField("post_index", T.IntegerType()),
        T.StructField("body", T.StringType()),
    ]
)


def assemble_bodies(
    lines: list[str], max_body_size: int = MAX_BODY_SIZE
) -> list[str]:
    """Replay the builder loop (`exporter.go:139-166`) byte-for-byte:
    flush-with-comma-strip when buffer+line reaches the cap, final
    buffer always sent (even when empty of lines)."""
    bodies: list[str] = []
    prefix = '{"lines": ['
    parts: list[str] = [prefix]
    nbytes = len(prefix)
    for i, line in enumerate(lines):
        lbytes = len(line.encode("utf-8"))
        if nbytes + lbytes >= max_body_size - 2:
            buf = "".join(parts)
            bodies.append(buf[:-1] + "]}")
            parts = [prefix]
            nbytes = len(prefix)
        parts.append(line)
        nbytes += lbytes
        if i < len(lines) - 1:
            parts.append(",")
            nbytes += 1
    bodies.append("".join(parts) + "]}")
    return bodies


def mezmo_bodies(
    lines_df: DataFrame, max_body_size: int = MAX_BODY_SIZE
) -> DataFrame:
    """Marshaled lines → POST bodies, one sequential replay per
    batch_key (ordered by ``arrival``)."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("arrival", kind="stable")
        bodies = assemble_bodies(list(pdf["line_json"]), max_body_size)
        return pd.DataFrame(
            {
                "batch_key": [str(pdf["batch_key"].iloc[0])] * len(bodies),
                "post_index": pd.Series(range(len(bodies)), dtype="int32"),
                "body": bodies,
            }
        )

    return lines_df.groupBy("batch_key").applyInPandas(fn, _BODY_SCHEMA)
