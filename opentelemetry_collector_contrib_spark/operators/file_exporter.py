"""fileexporter ``format: proto`` fidelity: length-delimited protobuf
write/read round-trip, size-based rotation, optional zstd compression.

Reference (`exporter/fileexporter/`):

- ``format: proto`` marshals each plog.Logs batch with
  ``plog.ProtoMarshaler`` and writes it prefixed by a 4-byte big-endian
  uint32 length (`file_writer.go:40-50`); JSON-with-compression uses the
  same framing (`file_writer.go:108-116`);
- ``compression: zstd`` compresses each marshaled message BEFORE framing
  (`marshaller.go:70-105` — ``buf = m.compressor(buf)``; `codec.go:25`);
- rotation is lumberjack: when the current file would exceed
  ``max_megabytes`` the writer rolls to a new file and prunes old backups
  past ``max_backups`` (default 100, `factory.go:28,62`).

Spark mapping: a sink is a per-task writer. Each writer task owns one
file *series* and rotates within it — part files ``logs-<task>.proto.N``
play lumberjack's timestamped backups (rename-free: object stores don't
rename), where N increases and the newest part is the "current" file.
``max_backups`` prunes the oldest parts per series, preserving
lumberjack's bounded-retention contract per writer.

Reading back tolerates both parts and single files: ``read_otlp_proto``
binaryFile-scans a glob, unframes, decompresses if asked, and decodes to
the same flat record schema ``sources.readers.read_otlp_json`` yields —
so collector-written proto output has a first-class reader here.
"""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..datamodel import FLAT_LOG_SCHEMA
from ..functions.otlp_proto import decode_logs, encode_logs, frame, unframe
from ..functions.records import map_records

__all__ = [
    "zstd_compress",
    "zstd_decompress",
    "marshal_framed",
    "write_otlp_proto",
    "read_otlp_proto",
    "json_doc_bytes",
    "json_doc_records",
    "records_in_order",
]


def _zstd_codec():
    # pyarrow wraps libzstd; frames are standard and interoperable with
    # the Go klauspost encoder the reference uses (codec.go:11)
    import pyarrow as pa

    return pa.Codec("zstd")


def zstd_compress(buf: bytes) -> bytes:
    return _zstd_codec().compress(buf, asbytes=True)


def zstd_decompress(buf: bytes) -> bytes:
    # pyarrow's one-shot Codec.decompress requires the decompressed size,
    # which the wire format doesn't carry separately — stream instead
    # (handles any standard zstd frame, incl. the reference's Go encoder)
    import pyarrow as pa

    with pa.CompressedInputStream(pa.BufferReader(buf), "zstd") as s:
        return s.read()


_MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("messages", T.LongType()),
        T.StructField("bytes", T.LongType()),
    ]
)

def records_in_order(pdf: pd.DataFrame) -> list[dict]:
    """pandas batch → flat record dicts, INPUT order preserved."""
    recs = []
    for row in pdf.itertuples(index=False):
        d = dict(zip(pdf.columns, row))
        recs.append(
            {
                "time_unix_nano": int(d.get("time_unix_nano") or 0),
                "severity_number": int(d.get("severity_number") or 0),
                "severity_text": d.get("severity_text") or "",
                "body": d.get("body"),
                "attributes": dict(d.get("attributes") or {}),
                "resource": dict(d.get("resource") or {}),
                "scope_name": d.get("scope_name") or "",
                "trace_id": d.get("trace_id") or "",
                "span_id": d.get("span_id") or "",
            }
        )
    return recs


def json_doc_bytes(records: list[dict]) -> bytes:
    """plog ``JSONMarshaler`` document for a record chunk — the same
    resourceLogs/scopeLogs/logRecords shape ``readers.otlp_json_lines``
    assembles JVM-side (protobuf JSON mapping: uint64 nanos as strings,
    attributes as KeyValue lists), built in Python for the framed-file
    writer. Attribute keys are sorted (the codec's canonical order)."""
    import json

    def kvs(m: dict) -> list[dict]:
        return [
            {"key": k, "value": {"stringValue": str(m[k])}} for k in sorted(m)
        ]

    groups: dict[tuple, list[dict]] = {}
    meta: dict[tuple, tuple] = {}
    for r in records:
        key = (tuple(sorted((r.get("resource") or {}).items())),
               r.get("scope_name") or "")
        groups.setdefault(key, []).append(r)
        meta[key] = (r.get("resource") or {}, key[1])
    rls = []
    for key, recs in groups.items():
        res, scope = meta[key]
        lrs = []
        for r in recs:
            lr: dict = {}
            if r.get("time_unix_nano"):
                lr["timeUnixNano"] = str(int(r["time_unix_nano"]))
            if r.get("severity_number"):
                lr["severityNumber"] = int(r["severity_number"])
            if r.get("severity_text"):
                lr["severityText"] = r["severity_text"]
            if r.get("body") is not None:
                lr["body"] = {"stringValue": str(r["body"])}
            if r.get("attributes"):
                lr["attributes"] = kvs(r["attributes"])
            if r.get("trace_id"):
                lr["traceId"] = r["trace_id"]
            if r.get("span_id"):
                lr["spanId"] = r["span_id"]
            lrs.append(lr)
        rl: dict = {}
        if res:
            rl["resource"] = {"attributes": kvs(res)}
        sl: dict = {"logRecords": lrs}
        if scope:
            sl["scope"] = {"name": scope}
        rl["scopeLogs"] = [sl]
        rls.append(rl)
    return json.dumps(
        {"resourceLogs": rls}, separators=(",", ":"), ensure_ascii=False
    ).encode("utf-8")


def marshal_framed(
    records: list[dict], compression: str | None = None,
    batch_records: int = 0, fmt: str = "proto",
) -> bytes:
    """Marshal flat records into the fileexporter's on-disk stream:
    group into plog batches (``batch_records`` caps records per message;
    0 = one message per (resource, scope) run), marshal each batch as
    protobuf (``fmt='proto'``) or plog JSON (``fmt='json'``), compress if
    asked, frame each with the 4-byte BE length. The reference uses this
    framing for proto AND for compressed JSON (`file_writer.go:108-116`)."""
    msgs: list[bytes] = []
    if batch_records and batch_records > 0:
        chunks = [
            records[i:i + batch_records]
            for i in range(0, len(records), batch_records)
        ]
    else:
        chunks = [records] if records else []
    for chunk in chunks:
        buf = encode_logs(chunk) if fmt == "proto" else json_doc_bytes(chunk)
        if compression == "zstd":
            buf = zstd_compress(buf)
        msgs.append(buf)
    return frame(msgs)


class _SeriesWriter:
    """Rotation state machine shared by the proto sinks: stream record
    chunks into the current part file, roll a new part past ``max_bytes``
    (lumberjack size rotation), prune THIS series' oldest parts past
    ``max_backups`` — parts are tracked per series exactly, never matched
    by path prefix, so dotted sibling segments ('web' vs 'web.0001') can
    never prune each other's files."""

    def __init__(self, compression, batch_records, max_bytes, max_backups,
                 fmt: str = "proto"):
        self.compression = compression
        self.fmt = fmt
        self.step = max(1, batch_records)
        self.max_bytes = max_bytes
        self.max_backups = max_backups
        self.series: str | None = None
        self.part = 0
        self.cur: list[bytes] = []
        self.cur_bytes = 0
        self.carry: list[dict] = []
        self.parts: list[dict] = []  # live parts of the CURRENT series
        self.written: list[dict] = []  # every part ever (pruned flagged)

    def _flush(self) -> None:
        if not self.cur:
            return
        path = f"{self.series}.{self.part:04d}"
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        blob = b"".join(self.cur)
        with open(path, "wb") as fh:
            fh.write(blob)
        row = dict(path=path, messages=len(self.cur), bytes=len(blob))
        self.parts.append(row)
        self.written.append(row)
        self.part += 1
        self.cur, self.cur_bytes = [], 0

    def _prune(self) -> None:
        # lumberjack MaxBackups: keep the newest max_backups parts
        # (+ the current) OF THIS SERIES, drop the oldest
        while len(self.parts) > self.max_backups + 1:
            victim = self.parts.pop(0)
            os.unlink(victim["path"])
            victim["pruned"] = True

    def _emit(self, recs: list[dict], final: bool) -> None:
        recs = self.carry + recs
        self.carry = []
        end = len(recs) if final else (len(recs) // self.step) * self.step
        for i in range(0, end, self.step):
            framed = marshal_framed(
                recs[i:i + self.step], compression=self.compression,
                fmt=self.fmt,
            )
            if self.cur_bytes and self.cur_bytes + len(framed) > self.max_bytes:
                self._flush()
                self._prune()
            self.cur.append(framed)
            self.cur_bytes += len(framed)
        self.carry = recs[end:]

    def open(self, series: str) -> None:
        """Finalize the current series (if any) and start a new one."""
        self.close()
        self.series = series
        self.part = 0
        self.parts = []

    def add(self, recs: list[dict]) -> None:
        self._emit(recs, final=False)

    def close(self) -> None:
        if self.series is None:
            return
        self._emit([], final=True)
        self._flush()
        self._prune()

    def manifest(self) -> pd.DataFrame:
        return pd.DataFrame(
            [w for w in self.written if not w.get("pruned")],
            columns=["path", "messages", "bytes"],
        )


def write_otlp_proto(
    df: DataFrame,
    out_dir: str,
    *,
    compression: str | None = None,
    batch_records: int = 4096,
    max_bytes: int = 100 * 1024 * 1024,
    max_backups: int = 100,
    fmt: str = "proto",
) -> DataFrame:
    """Write a flat log-record DataFrame as fileexporter-proto files;
    returns the part-file manifest (path, messages, bytes).

    One writer task per upstream partition; each task rotates its series
    when the current part would exceed ``max_bytes`` (lumberjack
    ``max_megabytes``) and prunes parts beyond ``max_backups``. Rows are
    sorted upstream (sortWithinPartitions) and the writer STREAMS Arrow
    batches into parts — per-task memory is one marshal chunk, never the
    partition (the bounded-memory discipline of the other sinks) — so the
    bytes are a pure function of the task's row set. ``out_dir`` must be
    a shared filesystem on a real cluster.
    """
    os.makedirs(out_dir, exist_ok=True)
    if "scope_name" not in df.columns:
        df = df.withColumn("scope_name", F.lit(""))
    # final on-disk order, imposed by the engine so the writer can stream
    df = df.sortWithinPartitions(
        F.to_json(F.col("resource")), "scope_name", "trace_id", "span_id",
        "time_unix_nano", "body",
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        task = TaskContext.get().partitionId()
        w = _SeriesWriter(
            compression, batch_records, max_bytes, max_backups, fmt=fmt
        )
        w.open(os.path.join(out_dir, f"logs-{task:05d}.{fmt}"))
        for pdf in batches:
            if len(pdf):
                # rows arrive in final order; no per-chunk re-sort (records
                # within one message keep that order — records_in_order)
                w.add(records_in_order(pdf))
        w.close()
        yield w.manifest()

    return df.mapInPandas(gen, _MANIFEST_SCHEMA)


def _group_full_path(prefix: str, segment: str, suffix: str) -> str:
    """grouping_file_exporter's path assembly incl. the traversal guard
    (`grouping_file_exporter.go:203-217`): path = Clean(prefix + segment +
    suffix); a segment that escapes the prefix is re-rooted under it."""
    import posixpath

    if segment.startswith("./"):
        segment = segment[1:]
    elif segment.startswith("../"):
        segment = segment[2:]
    full = posixpath.normpath(prefix + segment + suffix)
    if full.startswith(posixpath.normpath(prefix)):
        return full
    return posixpath.join(
        prefix, posixpath.normpath(posixpath.join("/", segment + suffix)).lstrip("/")
    )


def write_otlp_proto_grouped(
    df: DataFrame,
    path_template: str,
    *,
    group_by_attr: str = "fileexporter.path_segment",
    compression: str | None = None,
    batch_records: int = 4096,
    max_bytes: int = 100 * 1024 * 1024,
    max_backups: int = 100,
) -> DataFrame:
    """fileexporter ``group_by`` variant for ``format: proto``
    (`grouping_file_exporter.go`): one file SERIES per distinct value of a
    resource attribute, path = the template with ``*`` replaced by the
    (sanitized) value; records whose resource lacks the attribute are
    DROPPED (the reference logs-and-drops, go:237-241).

    Spark mapping: rows are keyed on the SANITIZED series path (two raw
    segments like 'a' and './a' that sanitize to the same file are one
    group — the reference appends both to one shared open file, go:167-176)
    and ONE exchange gives each series exactly one writer task (many series
    per task is fine — the writer rolls series on path change, the analog
    of the reference's LRU of open files bounding memory, not correctness).
    Rotation/backups per series as in :func:`write_otlp_proto`. Returns
    the part manifest (path, messages, bytes).
    """
    if "*" not in path_template:
        raise ValueError("path_template needs a '*' (prefix*suffix)")
    prefix, suffix = path_template.split("*", 1)
    os.makedirs(os.path.dirname(prefix) or ".", exist_ok=True)
    if "scope_name" not in df.columns:
        df = df.withColumn("scope_name", F.lit(""))

    @F.pandas_udf(T.StringType())
    def series_path(segs: pd.Series) -> pd.Series:
        return segs.map(
            lambda s: None if s is None else _group_full_path(prefix, str(s), suffix)
        )

    staged = (
        df.withColumn("__series", series_path(F.col("resource").getItem(group_by_attr)))
        .where(F.col("__series").isNotNull())
        .repartition(F.col("__series"))
        .sortWithinPartitions(
            "__series", F.to_json(F.col("resource")), "scope_name",
            "trace_id", "span_id", "time_unix_nano", "body",
        )
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        w = _SeriesWriter(compression, batch_records, max_bytes, max_backups)
        for pdf in batches:
            if not len(pdf):
                continue
            # rows arrive sorted by __series: consecutive runs are whole
            # groups (a run can span Arrow batches — writer state persists)
            for s, grp in pdf.groupby("__series", sort=False):
                if str(s) != w.series:
                    w.open(str(s))
                w.add(records_in_order(grp.drop(columns=["__series"])))
        w.close()
        yield w.manifest()

    return staged.mapInPandas(gen, _MANIFEST_SCHEMA)


def json_doc_records(buf: bytes) -> list[dict]:
    """Inverse of ``json_doc_bytes``: plog JSON document → flat records
    (resource/scope denormalized, nanos back to int)."""
    import json

    def unkvs(lst):
        return {
            kv["key"]: str(kv.get("value", {}).get("stringValue", ""))
            for kv in lst or []
        }

    out: list[dict] = []
    doc = json.loads(buf.decode("utf-8"))
    for rl in doc.get("resourceLogs", []):
        res = unkvs(rl.get("resource", {}).get("attributes"))
        for sl in rl.get("scopeLogs", []):
            scope = sl.get("scope", {}).get("name", "")
            for lr in sl.get("logRecords", []):
                body = lr.get("body")
                out.append(
                    {
                        "time_unix_nano": int(lr.get("timeUnixNano", 0)),
                        "severity_number": int(lr.get("severityNumber", 0)),
                        "severity_text": lr.get("severityText", ""),
                        "body": None if body is None else body.get("stringValue"),
                        "attributes": unkvs(lr.get("attributes")),
                        "resource": dict(res),
                        "scope_name": scope,
                        "trace_id": lr.get("traceId", ""),
                        "span_id": lr.get("spanId", ""),
                    }
                )
    return out


def read_otlp_proto(
    spark: SparkSession, path_glob: str, *, compression: str | None = None,
    fmt: str = "proto",
) -> DataFrame:
    """fileexporter-proto reader: binaryFile scan → unframe → (zstd) →
    decode → flat records (schema identical to ``read_otlp_json``'s flat
    output, with time kept as int nanos). Distributed: each file decodes
    on the executor that scanned it."""
    bins = spark.read.format("binaryFile").load(path_glob)

    def one(row: dict) -> list[dict]:
        out = []
        for msg in unframe(bytes(row["content"])):
            if compression == "zstd":
                msg = zstd_decompress(msg)
            recs = decode_logs(msg) if fmt == "proto" else json_doc_records(msg)
            for rec in recs:
                rec["body"] = None if rec["body"] is None else str(rec["body"])
                rec["attributes"] = {k: str(v) for k, v in rec["attributes"].items()}
                rec["resource"] = {k: str(v) for k, v in rec["resource"].items()}
                out.append(rec)
        return out

    return map_records(bins.select("content"), one, FLAT_LOG_SCHEMA)
