"""fluentforward receiver parity — Fluentd/Fluent Bit forward-protocol
event streams decoded into flat log-record rows, the last in-scope log
receiver (the reference testbed's FluentForward→SplunkHEC scenario,
``testbed/tests/log_test.go:118-125``).

Reference behavior (`receiver/fluentforwardreceiver/`, and the Fluentd
Forward Protocol Specification v1 it implements):

- the TCP server peeks the SECOND element of each top-level msgpack
  array to pick the carrier mode (`server.go:140-202`): int/uint/ext →
  Message, array → Forward, bin/str → PackedForward;
- Message mode: ``[tag, time, record, options?]`` — one record
  (`conversion.go:191-222`);
- Forward mode: ``[tag, [[time, record], ...], options?]``
  (`conversion.go:256-294`);
- PackedForward mode: ``[tag, bin, options?]`` where bin is a raw
  concatenation of msgpack ``[time, record]`` entries, gzip-compressed
  when ``options.compressed == "gzip"`` — the options map AFTER the
  payload decides, so the payload is read raw first
  (`conversion.go:318-405`);
- time is a positive/negative int (seconds) or the EventTime msgpack
  extension, type 0, 8 bytes: big-endian u32 seconds + u32 nanoseconds
  (`timeext.go:28-43`);
- record keys ``message`` and ``log`` become the body (fluentd uses
  message, fluent bit log), every other key an attribute; map keys may
  arrive as bin instead of str (`conversion.go:154-177`); the tag lands
  on every record as the ``fluent.tag`` attribute (`conversion.go:19`);
- msgp type mapping: bool/str/int/bytes-as-str/map/list/float pass
  through, nil stays empty (`conversion.go:95-121`);
- when options carry ``chunk``, the server replies with the msgpack map
  ``{"ack": <chunk>}`` (`ack.go:8-25`); UDP heartbeats are echoed back
  byte-for-byte (`heartbeat.go:16-40`).

The Spark rebuild keeps unmarshaling a pure, socket-free function over
byte blobs: ``fluent_log_records`` is one ``map_records`` pass
over a DataFrame with one EVENT STREAM per row (a connection's bytes, a
spool file, a kafka message...), so the decode runs message-parallel on
whichever executor scanned the blob and composes into any downstream
stage without an exchange — the same shape as ``sources.kafka_receiver``.
The live socket half is ``fluent_spool_listener``: the same
accept→parse→ack loop as the reference's ``server.handleConn``, landing
whole atomically-renamed spool files per parsed event batch for the
checkpointed streaming file source (the udp/namedpipe bridge pattern).

The codec below is a from-scratch msgpack subset (the forward protocol
needs nil/bool/int/float/str/bin/array/map/ext only); the encoder exists
so tests and the driver query can round-trip without a fluent client —
it IS what fluent bit puts on the wire for these shapes, and the
PackedForward gzip member is written with mtime=0 so event bytes are
deterministic.

Documented divergence: the reference stamps no timestamp when the time
field is malformed and kills the connection on parse errors mid-stream
(`server.go:112-118`); this rebuild raises on the malformed event, which
fails the Spark task — same data outcome (the batch is not silently
half-parsed), surfaced as a job error instead of a closed socket.
"""

from __future__ import annotations

import gzip
import io
import math
import struct

from pyspark.sql import DataFrame, types as T

from ..functions.records import map_records

__all__ = [
    "EventTime",
    "encode_event",
    "encode_value",
    "decode_event_stream",
    "fluent_log_records",
    "fluent_spool_listener",
]

TAG_ATTRIBUTE_KEY = "fluent.tag"


class EventTime:
    """Forward-protocol EventTime extension (type 0): seconds + nanos,
    each a big-endian u32 (`timeext.go:28-43`)."""

    __slots__ = ("sec", "nsec")

    def __init__(self, sec: int, nsec: int = 0):
        if not 0 <= nsec < 1_000_000_000:
            raise ValueError("nanoseconds out of range")
        self.sec = int(sec)
        self.nsec = int(nsec)

    def __eq__(self, other):
        return (
            isinstance(other, EventTime)
            and (self.sec, self.nsec) == (other.sec, other.nsec)
        )

    def __repr__(self):
        return f"EventTime({self.sec}, {self.nsec})"


class Truncated(Exception):
    """Buffer ends mid-value — the stream needs more bytes (the
    incremental-read analog of msgp's io.EOF mid-event)."""


# ---------------------------------------------------------------------------
# msgpack encoder (deterministic: minimal-width ints, insertion-order maps)
# ---------------------------------------------------------------------------


def encode_value(obj) -> bytes:
    out = bytearray()
    _enc(obj, out)
    return bytes(out)


def _enc(obj, out: bytearray) -> None:
    if obj is None:
        out.append(0xC0)
    elif obj is True:
        out.append(0xC3)
    elif obj is False:
        out.append(0xC2)
    elif isinstance(obj, EventTime):
        # fixext8, type 0 — the shape fluentd itself emits.
        out += b"\xd7\x00"
        out += struct.pack(">II", obj.sec & 0xFFFFFFFF, obj.nsec)
    elif isinstance(obj, int):
        _enc_int(obj, out)
    elif isinstance(obj, float):
        out.append(0xCB)
        out += struct.pack(">d", obj)
    elif isinstance(obj, str):
        b = obj.encode("utf-8")
        n = len(b)
        if n <= 31:
            out.append(0xA0 | n)
        elif n <= 0xFF:
            out += bytes((0xD9, n))
        elif n <= 0xFFFF:
            out.append(0xDA)
            out += struct.pack(">H", n)
        else:
            out.append(0xDB)
            out += struct.pack(">I", n)
        out += b
    elif isinstance(obj, (bytes, bytearray)):
        n = len(obj)
        if n <= 0xFF:
            out += bytes((0xC4, n))
        elif n <= 0xFFFF:
            out.append(0xC5)
            out += struct.pack(">H", n)
        else:
            out.append(0xC6)
            out += struct.pack(">I", n)
        out += bytes(obj)
    elif isinstance(obj, (list, tuple)):
        n = len(obj)
        if n <= 15:
            out.append(0x90 | n)
        elif n <= 0xFFFF:
            out.append(0xDC)
            out += struct.pack(">H", n)
        else:
            out.append(0xDD)
            out += struct.pack(">I", n)
        for v in obj:
            _enc(v, out)
    elif isinstance(obj, dict):
        n = len(obj)
        if n <= 15:
            out.append(0x80 | n)
        elif n <= 0xFFFF:
            out.append(0xDE)
            out += struct.pack(">H", n)
        else:
            out.append(0xDF)
            out += struct.pack(">I", n)
        for k, v in obj.items():
            _enc(k, out)
            _enc(v, out)
    else:
        raise TypeError(f"cannot msgpack-encode {type(obj).__name__}")


def _enc_int(v: int, out: bytearray) -> None:
    if 0 <= v <= 0x7F:
        out.append(v)
    elif -32 <= v < 0:
        out.append(v & 0xFF)
    elif 0 < v <= 0xFF:
        out += bytes((0xCC, v))
    elif 0 < v <= 0xFFFF:
        out.append(0xCD)
        out += struct.pack(">H", v)
    elif 0 < v <= 0xFFFFFFFF:
        out.append(0xCE)
        out += struct.pack(">I", v)
    elif 0 < v <= 0xFFFFFFFFFFFFFFFF:
        out.append(0xCF)
        out += struct.pack(">Q", v)
    elif -0x80 <= v < 0:
        out.append(0xD0)
        out += struct.pack(">b", v)
    elif -0x8000 <= v < 0:
        out.append(0xD1)
        out += struct.pack(">h", v)
    elif -0x80000000 <= v < 0:
        out.append(0xD2)
        out += struct.pack(">i", v)
    elif -0x8000000000000000 <= v < 0:
        out.append(0xD3)
        out += struct.pack(">q", v)
    else:
        raise OverflowError("int out of msgpack range")


# ---------------------------------------------------------------------------
# msgpack decoder
# ---------------------------------------------------------------------------

# leading byte → broad type, mirroring msgp.NextType for mode detection
_INT_LEAD = {0xCC, 0xCD, 0xCE, 0xCF, 0xD0, 0xD1, 0xD2, 0xD3}
_EXT_LEAD = {0xC7, 0xC8, 0xC9, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8}
_BIN_LEAD = {0xC4, 0xC5, 0xC6}


def _lead_type(b: int) -> str:
    if b <= 0x7F or b >= 0xE0 or b in _INT_LEAD:
        return "int"
    if 0xA0 <= b <= 0xBF or b in (0xD9, 0xDA, 0xDB):
        return "str"
    if 0x90 <= b <= 0x9F or b in (0xDC, 0xDD):
        return "array"
    if 0x80 <= b <= 0x8F or b in (0xDE, 0xDF):
        return "map"
    if b in _BIN_LEAD:
        return "bin"
    if b in _EXT_LEAD:
        return "ext"
    if b == 0xC0:
        return "nil"
    if b in (0xC2, 0xC3):
        return "bool"
    if b in (0xCA, 0xCB):
        return "float"
    raise ValueError(f"unrecognized msgpack lead byte 0x{b:02x}")


def _need(buf: bytes, pos: int, n: int) -> None:
    if pos + n > len(buf):
        raise Truncated()


def _take(buf: bytes, pos: int, n: int):
    _need(buf, pos, n)
    return buf[pos : pos + n], pos + n


def _read(buf: bytes, pos: int):
    """Decode one value; returns (value, new_pos). EventTime ext → the
    EventTime class, any other ext type → raw bytes."""
    _need(buf, pos, 1)
    b = buf[pos]
    pos += 1
    if b <= 0x7F:
        return b, pos
    if b >= 0xE0:
        return b - 0x100, pos
    if 0xA0 <= b <= 0xBF:
        raw, pos = _take(buf, pos, b & 0x1F)
        # surrogateescape = Go's string(): raw bytes ride losslessly, so a
        # str-typed PackedForward payload re-encodes to the exact wire
        # bytes (conversion.go:346-353 reads the string back to []byte)
        return raw.decode("utf-8", "surrogateescape"), pos
    if 0x90 <= b <= 0x9F:
        return _read_array(buf, pos, b & 0x0F)
    if 0x80 <= b <= 0x8F:
        return _read_map(buf, pos, b & 0x0F)
    if b == 0xC0:
        return None, pos
    if b == 0xC2:
        return False, pos
    if b == 0xC3:
        return True, pos
    if b in (0xCC, 0xCD, 0xCE, 0xCF):
        n = 1 << (b - 0xCC)
        raw, pos = _take(buf, pos, n)
        return int.from_bytes(raw, "big"), pos
    if b in (0xD0, 0xD1, 0xD2, 0xD3):
        n = 1 << (b - 0xD0)
        raw, pos = _take(buf, pos, n)
        return int.from_bytes(raw, "big", signed=True), pos
    if b == 0xCA:
        raw, pos = _take(buf, pos, 4)
        return struct.unpack(">f", raw)[0], pos
    if b == 0xCB:
        raw, pos = _take(buf, pos, 8)
        return struct.unpack(">d", raw)[0], pos
    if b in (0xD9, 0xDA, 0xDB):
        n, pos = _read_len(buf, pos, 1 << (b - 0xD9))
        raw, pos = _take(buf, pos, n)
        return raw.decode("utf-8", "surrogateescape"), pos
    if b in (0xC4, 0xC5, 0xC6):
        n, pos = _read_len(buf, pos, 1 << (b - 0xC4))
        raw, pos = _take(buf, pos, n)
        return bytes(raw), pos
    if b in (0xDC, 0xDD):
        n, pos = _read_len(buf, pos, 2 if b == 0xDC else 4)
        return _read_array(buf, pos, n)
    if b in (0xDE, 0xDF):
        n, pos = _read_len(buf, pos, 2 if b == 0xDE else 4)
        return _read_map(buf, pos, n)
    if 0xD4 <= b <= 0xD8:  # fixext 1/2/4/8/16
        n = 1 << (b - 0xD4)
        return _read_ext(buf, pos, n)
    if b in (0xC7, 0xC8, 0xC9):
        n, pos = _read_len(buf, pos, 1 << (b - 0xC7))
        return _read_ext(buf, pos, n)
    raise ValueError(f"unrecognized msgpack lead byte 0x{b:02x}")


def _read_len(buf: bytes, pos: int, width: int):
    raw, pos = _take(buf, pos, width)
    return int.from_bytes(raw, "big"), pos


def _read_array(buf: bytes, pos: int, n: int):
    out = []
    for _ in range(n):
        v, pos = _read(buf, pos)
        out.append(v)
    return out, pos


def _read_map(buf: bytes, pos: int, n: int):
    out = {}
    for _ in range(n):
        k, pos = _read(buf, pos)
        v, pos = _read(buf, pos)
        # "apparently some map keys can be binary type instead of string"
        # (conversion.go:158-165)
        if isinstance(k, (bytes, bytearray)):
            k = bytes(k).decode("utf-8", "replace")
        out[k] = v
    return out, pos


def _read_ext(buf: bytes, pos: int, n: int):
    _need(buf, pos, 1 + n)
    ext_type = struct.unpack(">b", buf[pos : pos + 1])[0]
    data = buf[pos + 1 : pos + 1 + n]
    pos += 1 + n
    if ext_type == 0 and n == 8:  # EventTime (timeext.go:35-43)
        sec, nsec = struct.unpack(">II", data)
        return EventTime(sec, nsec), pos
    return bytes(data), pos


# ---------------------------------------------------------------------------
# forward-protocol events
# ---------------------------------------------------------------------------


def encode_event(
    tag: str,
    entries: list,
    *,
    mode: str = "forward",
    options: dict | None = None,
    compressed: bool = False,
) -> bytes:
    """Wire bytes for one event. ``entries`` is ``[(time, record), ...]``
    (message mode uses exactly one). Time is an int (seconds) or an
    EventTime. PackedForward concatenates per-entry msgpack and gzips it
    (mtime=0 → deterministic bytes) when ``compressed``."""
    opts = dict(options or {})
    if mode == "message":
        if len(entries) != 1:
            raise ValueError("message mode carries exactly one entry")
        ts, record = entries[0]
        ev = [tag, ts, record] + ([opts] if opts else [])
        return encode_value(ev)
    if mode == "forward":
        ev = [tag, [[ts, rec] for ts, rec in entries]]
        if opts:
            ev.append(opts)
        return encode_value(ev)
    if mode == "packedforward":
        packed = b"".join(
            encode_value([ts, rec]) for ts, rec in entries
        )
        if compressed:
            out = io.BytesIO()
            with gzip.GzipFile(fileobj=out, mode="wb", mtime=0) as gz:
                gz.write(packed)
            packed = out.getvalue()
            opts["compressed"] = "gzip"
        head = bytes([0x90 | (3 if opts else 2)])  # fixarray header
        body = encode_value(tag)
        n = len(packed)
        if n <= 0xFF:
            payload = bytes((0xC4, n)) + packed
        elif n <= 0xFFFF:
            payload = b"\xc5" + struct.pack(">H", n) + packed
        else:
            payload = b"\xc6" + struct.pack(">I", n) + packed
        tail = encode_value(opts) if opts else b""
        return head + body + payload + tail
    raise ValueError(f"unknown event mode {mode!r}")


def _determine_mode(buf: bytes, pos: int) -> str:
    """Carrier-mode detection by peeking the second array element — the
    spec's "Server MUST detect the carrier mode by inspecting the second
    element" (`server.go:140-202`)."""
    _need(buf, pos, 1)
    head = buf[pos]
    if not 0x90 <= head <= 0x9F:
        raise ValueError("event is not a fixarray")
    _need(buf, pos, 2)
    tag_lead = buf[pos + 1]
    off = pos + 2  # past array header + tag lead byte
    if 0xA0 <= tag_lead <= 0xBF:
        tag_len = tag_lead & 0x1F
    elif tag_lead == 0xD9:
        _need(buf, off, 1)
        tag_len = buf[off]
        off += 1
    elif tag_lead == 0xDA:
        _need(buf, off, 2)
        tag_len = int.from_bytes(buf[off : off + 2], "big")
        off += 2
    elif tag_lead == 0xDB:
        _need(buf, off, 4)
        tag_len = int.from_bytes(buf[off : off + 4], "big")
        off += 4
    else:
        raise ValueError("malformed tag field")
    _need(buf, off, tag_len + 1)
    second = _lead_type(buf[off + tag_len])
    if second in ("int", "ext"):
        return "message"
    if second == "array":
        return "forward"
    if second in ("bin", "str"):
        return "packedforward"
    raise ValueError(f"unable to determine event mode for type {second}")


def _ts_parts(ts) -> tuple[int, int]:
    if isinstance(ts, EventTime):
        return ts.sec, ts.nsec
    if isinstance(ts, int):
        return ts, 0
    raise ValueError(f"unknown type of time value: {ts!r}")


def _record_to_row(tag: str, ts, record) -> dict:
    if not isinstance(record, dict):
        raise ValueError("entry record must be a map")
    sec, nsec = _ts_parts(ts)
    body = None
    attrs: dict = {TAG_ATTRIBUTE_KEY: tag}
    for k, v in record.items():
        # fluentd uses message, fluent bit log (conversion.go:171-176)
        if k in ("message", "log"):
            body = v
        else:
            attrs[k] = v
    return {
        "time_unix_nano": sec * 1_000_000_000 + nsec,
        "body": body,
        "attributes": attrs,
    }


def _decode_one_event(buf: bytes, pos: int):
    """One event at ``pos`` → (records, ack_bytes_or_None, new_pos).
    Raises Truncated when the buffer ends mid-event."""
    mode = _determine_mode(buf, pos)
    arr, pos = _read(buf, pos)
    tag = arr[0]
    if isinstance(tag, (bytes, bytearray)):
        tag = bytes(tag).decode("utf-8", "replace")
    options: dict = {}
    records: list[dict] = []
    if mode == "message":
        if not 3 <= len(arr) <= 4:
            raise ValueError("message event must have 3 or 4 elements")
        records.append(_record_to_row(tag, arr[1], arr[2]))
        if len(arr) == 4 and arr[3] is not None:
            options = arr[3]
    elif mode == "forward":
        if not 2 <= len(arr) <= 3:
            raise ValueError("forward event must have 2 or 3 elements")
        for entry in arr[1]:
            if not isinstance(entry, list) or len(entry) != 2:
                raise ValueError("forward entry must be [time, record]")
            records.append(_record_to_row(tag, entry[0], entry[1]))
        if len(arr) == 3 and arr[2] is not None:
            options = arr[2]
    else:  # packedforward
        if not 2 <= len(arr) <= 3:
            raise ValueError(
                "packedforward event must have 2 or 3 elements"
            )
        raw = arr[1]
        if isinstance(raw, str):  # str-typed payloads allowed
            raw = raw.encode("utf-8", "surrogateescape")
        if not isinstance(raw, (bytes, bytearray)):
            raise ValueError("packedforward payload must be bin or str")
        if len(arr) == 3 and arr[2] is not None:
            options = arr[2]
        if options.get("compressed") == "gzip":
            raw = gzip.decompress(bytes(raw))
        ipos = 0
        while ipos < len(raw):
            entry, ipos = _read(bytes(raw), ipos)
            if not isinstance(entry, list) or len(entry) != 2:
                raise ValueError(
                    "packedforward entry must be [time, record]"
                )
            records.append(_record_to_row(tag, entry[0], entry[1]))
    ack = None
    chunk = options.get("chunk")
    if isinstance(chunk, str):
        ack = encode_value({"ack": chunk})  # ack.go:12-25
    return records, ack, pos


def decode_event_stream(buf: bytes) -> tuple[list[dict], list[bytes]]:
    """All events in a byte stream (a connection / spool file) →
    (records, acks) — the loop of ``server.handleConn``."""
    records: list[dict] = []
    acks: list[bytes] = []
    pos = 0
    buf = bytes(buf)
    while pos < len(buf):
        recs, ack, pos = _decode_one_event(buf, pos)
        records.extend(recs)
        if ack is not None:
            acks.append(ack)
    return records, acks


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------

_FLUENT_SCHEMA = T.StructType(
    [
        T.StructField("tag", T.StringType()),
        T.StructField("time_unix_nano", T.LongType()),
        T.StructField("body", T.StringType()),
        T.StructField(
            "attributes", T.MapType(T.StringType(), T.StringType())
        ),
    ]
)


def _stringify(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).decode("utf-8", "replace")
    if isinstance(v, float) and math.isfinite(v) and v == int(v):
        return str(int(v))
    if isinstance(v, str):
        # drop lossless surrogate escapes at the Arrow boundary
        return v.encode("utf-8", "surrogateescape").decode("utf-8", "replace")
    return str(v)


def fluent_log_records(df: DataFrame, blob_col: str = "value") -> DataFrame:
    """Decode forward-protocol event streams into flat log records: one
    input row = one stream (connection payload / spool file), one output
    row per log record, ``fluent.tag`` folded into attributes like the
    reference (`conversion.go:211,285,402`). Zero-shuffle —
    decoding stays on the scanning executor and composes into any
    downstream parse/route stage without an exchange."""
    src = df.select(blob_col)

    def one(row: dict) -> list[dict]:
        recs, _acks = decode_event_stream(bytes(row[blob_col]))
        return [
            {
                "tag": _stringify(rec["attributes"][TAG_ATTRIBUTE_KEY]),
                "time_unix_nano": rec["time_unix_nano"],
                "body": _stringify(rec["body"]),
                "attributes": {
                    k: _stringify(v) for k, v in rec["attributes"].items()
                },
            }
            for rec in recs
        ]

    return map_records(src, one, _FLUENT_SCHEMA)


def fluent_spool_listener(
    host: str, port: int, spool_dir: str, flush_every: int = 50
):
    """Live TCP half — the reference's accept → parse-events → ack loop
    (`server.go:86-131`) bridged to the durable-spool pattern the udp and
    namedpipe sources use: every completed event's raw bytes land in
    whole, atomically-renamed spool files so the checkpointed streaming
    file source (``binaryFile``) + ``fluent_log_records`` provide the
    delivery guarantees. Acks for ``chunk``-tagged events are written
    back on the same connection; a UDP socket on the same port echoes
    heartbeat packets byte-for-byte (`heartbeat.go:32-36`).

    Returns (server_socket, stop): stop() flushes and closes."""
    import os
    import socket
    import threading
    import uuid

    os.makedirs(spool_dir, exist_ok=True)
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind((host, port))
    srv.listen(8)
    srv.settimeout(0.2)
    udp = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    # heartbeats share the TCP port (factory.go wires one endpoint); with
    # port=0 reuse whatever the kernel assigned the TCP listener
    udp.bind((host, srv.getsockname()[1]))
    udp.settimeout(0.2)
    stopped = threading.Event()
    lock = threading.Lock()
    pending: list[bytes] = []

    def flush():
        with lock:
            if not pending:
                return
            blob = b"".join(pending)
            pending.clear()
        name = f"fluent-{uuid.uuid4().hex}.ffwd"
        tmp = os.path.join(spool_dir, "." + name)
        with open(tmp, "wb") as f:
            f.write(blob)
        os.rename(tmp, os.path.join(spool_dir, name))

    def handle(conn: socket.socket):
        conn.settimeout(0.2)
        buf = b""
        pos = 0
        n_events = 0
        try:
            while not stopped.is_set():
                try:
                    chunk = conn.recv(64 * 1024)
                except socket.timeout:
                    continue
                if not chunk:
                    break
                buf += chunk
                while True:
                    try:
                        _recs, ack, npos = _decode_one_event(buf, pos)
                    except Truncated:
                        break
                    with lock:
                        pending.append(buf[pos:npos])
                    pos = npos
                    n_events += 1
                    if ack is not None:
                        conn.sendall(ack)
                    if n_events % flush_every == 0:
                        flush()
                buf, pos = buf[pos:], 0
        finally:
            conn.close()
            flush()

    def accept_loop():
        while not stopped.is_set():
            try:
                conn, _addr = srv.accept()
            except socket.timeout:
                continue
            except OSError:
                return
            threading.Thread(
                target=handle, args=(conn,), daemon=True
            ).start()

    def heartbeat_loop():
        pkt = bytearray(1)
        while not stopped.is_set():
            try:
                n, addr = udp.recvfrom_into(pkt)
            except socket.timeout:
                continue
            except OSError:
                return
            if n:
                try:
                    udp.sendto(pkt[:n], addr)
                except OSError:
                    pass

    threading.Thread(target=accept_loop, daemon=True).start()
    threading.Thread(target=heartbeat_loop, daemon=True).start()

    def stop():
        stopped.set()
        flush()
        srv.close()
        udp.close()

    return srv, stop
