"""RFC 6587 syslog TCP stream framing — the receive-direction framing
halves the syslog exporter's octet counting writes
(`operators/syslog_exporter.format_rfc5424(octet_counting=True)`).

Reference behavior:

- octet counting (`pkg/stanza/operator/input/syslog/input.go:54-84`):
  a frame is ``<len><whitespace>`` (regex ``^[1-9]\\d*\\s``) followed by
  exactly ``len`` bytes; the emitted token INCLUDES the length prefix
  (the downstream parser strips it). A stream position not matching the
  length prefix — or a final short frame — flushes the remainder as one
  token at EOF (flushAtEOF), which then fails the parse downstream;
- non-transparent framing (`pkg/stanza/operator/parser/syslog/
  parser.go:100-104`): messages are terminated by a trailer byte, LF or
  NUL; the trailer is not part of the message.

Octet counting exists precisely because messages may EMBED newlines —
a line-wise reader cannot carry these streams, so the framing split is
the one receive-direction piece the repo's line readers don't already
cover (plain newline-framed syslog TCP is `stream_socket_lines`).

Spark shape: one row in = one connection's byte stream, one row out per
frame (one ``map_records`` pass); frames feed the existing
``operators.parse.syslog_parser``. At 100 TB framing composes into the
scan — per-connection streams are independent.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F, types as T

from ..functions.records import map_records

__all__ = [
    "split_octet_frames",
    "strip_octet_prefix",
    "split_nontransparent_frames",
    "syslog_frame_lines",
]

# NOTE: no '^' — Pattern.match(data, pos) anchors at pos positionally,
# but an explicit '^' would additionally assert start-of-STRING and
# never match at pos > 0 (every frame after the first).
_FRAME_RE = re.compile(rb"[1-9]\d*[ \t\r\n\f\v]")


def split_octet_frames(stream: bytes, *, flush_at_eof: bool = True) -> list[bytes]:
    """Replay `newOctetFrameSplitFunc` over a complete stream (atEOF at
    the end): tokens include their length prefix."""
    out: list[bytes] = []
    pos = 0
    n = len(stream)
    while pos < n:
        m = _FRAME_RE.match(stream, pos)
        if m is None:
            if flush_at_eof:
                out.append(stream[pos:])
            return out
        header_end = m.end()
        frame_len = int(stream[pos : header_end - 1])
        advance = header_end + frame_len
        if advance > n:
            if flush_at_eof:
                out.append(stream[pos:])
            return out
        out.append(stream[pos : advance])
        pos = advance
    return out


def strip_octet_prefix(frame: bytes) -> bytes:
    """``123 <msg>`` → ``<msg>`` — what the octet-counting parse machine
    does before the RFC 5424 parse (`parser.go:97-99`). A frame without
    a valid prefix (the EOF-flushed remainder) passes through and fails
    the message parse downstream, as in the reference."""
    m = _FRAME_RE.match(frame)
    return frame[m.end() :] if m else frame


def split_nontransparent_frames(stream: bytes, trailer: str = "LF") -> list[bytes]:
    """Trailer-terminated frames (`parser.go:100-104`): LF or NUL; the
    trailer is stripped; a trailing unterminated fragment flushes."""
    if trailer not in ("LF", "NUL"):
        raise ValueError(f"unrecognized trailer {trailer!r}")
    sep = b"\n" if trailer == "LF" else b"\x00"
    parts = stream.split(sep)
    if parts and parts[-1] == b"":
        parts.pop()  # fully-terminated stream: no empty trailing frame
    return parts


_OUT_SCHEMA = T.StructType(
    [
        T.StructField("conn", T.StringType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("line", T.StringType()),
    ]
)


def syslog_frame_lines(
    df: DataFrame,
    value_col: str = "value",
    conn_col: str | None = None,
    *,
    framing: str = "octet_counting",
) -> DataFrame:
    """Connection byte-streams → one row per framed message (``line``),
    ready for ``operators.parse.syslog_parser``. ``framing`` ∈
    octet_counting / lf / nul."""
    if framing not in ("octet_counting", "lf", "nul"):
        raise ValueError(f"unrecognized framing {framing!r}")
    cols = [df[value_col].alias("value")]
    cols.append(
        df[conn_col].alias("conn") if conn_col else F.lit("").alias("conn")
    )
    src = df.select(*cols)

    def one(row: dict) -> list[dict]:
        value = row["value"]
        stream = (
            bytes(value)
            if isinstance(value, (bytes, bytearray))
            else str(value).encode("utf-8")
        )
        if framing == "octet_counting":
            frames = [strip_octet_prefix(f) for f in split_octet_frames(stream)]
        else:
            frames = split_nontransparent_frames(
                stream, "LF" if framing == "lf" else "NUL"
            )
        return [
            {"conn": row["conn"], "frame_idx": i, "line": f.decode("utf-8", "replace")}
            for i, f in enumerate(frames)
        ]

    return map_records(src, one, _OUT_SCHEMA)
