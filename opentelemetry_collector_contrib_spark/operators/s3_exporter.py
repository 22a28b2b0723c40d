"""awss3exporter parity — Hive-style time-partitioned object keys plus the
four log marshalers (body, sumo_ic, otlp_json, otlp_proto), writing to a
local/shared filesystem root standing in for the bucket.

Reference behavior (`exporter/awss3exporter/`):

- object key = ``{s3_prefix}/year=YYYY/month=MM/day=DD/hour=HH[/minute=MM]
  /{file_prefix}{metadata}_{randomID}.{format}[.gz]`` where metadata is
  ``"logs"`` for the log signal and the minute level is present unless
  ``s3_partition: hour`` (`s3_writer.go:26-59`, `exporter.go:76`); default
  partition is ``minute`` (`factory.go:32`);
- marshalers (`marshaler.go:42-67`): ``otlp_proto`` → plog ProtoMarshaler,
  format ``binpb``; ``otlp_json`` → plog JSONMarshaler, format ``json``;
  ``sumo_ic`` → one JSON line per record with ``date`` / ``sourceName`` /
  ``sourceHost`` / ``sourceCategory`` / ``fields`` / ``message`` drawn
  from the ``_source*`` resource attributes (required — missing is an
  error) and the attributes+body map, format ``json.gz``
  (`sumo_marshaler.go:76-154`); ``body`` → ``body.AsString() + "\\n"`` per
  record, format ``txt`` (`body_marshaler.go:25-44`);
- ``compression: gzip`` gzips the marshaled buffer and appends ``.gz``
  (`s3_writer.go:53-57,95-108`);
- one object per plog batch push (`exporter.go:70-76`).

Spark-first notes: the reference HAND-FORMATS Hive partition keys; they
are exactly the layout Spark's ``partitionBy`` emits, so readers can
``spark.read...load(bucket_root)`` and get partition PRUNING on
year/month/day/hour/minute for free. The rebuild computes the time key
in pure codegen (no Python), groups rows by it (the deterministic analog
of "one object per batch" — an execution detail, not a data property;
``splits`` shards hot keys), and marshals each group in one Arrow-fed
task. Two deliberate divergences: the reference's random object id
(`s3_writer.go:39-45`, collision avoidance) is replaced by a
deterministic hash of the group key so re-running a corpus rewrites the
same objects, and the wall-clock ``time.Now()`` key is replaced by the
RECORD timestamp so rows land in the partition of the data they carry
(at 100 TB a backfill keyed on ingest wall-clock would scatter one day's
data over every run hour).

Actually uploading is ``s3a://`` paths on a real cluster; bytes + key
layout are the tested surface here.
"""

from __future__ import annotations

import gzip
import hashlib
import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..functions.gofmt import go_json_string, go_json_value, go_time_string
from ..functions.otlp_proto import encode_logs
from ..functions.records import map_records
from .file_exporter import json_doc_bytes, records_in_order

__all__ = [
    "time_partition_key",
    "s3_object_key",
    "sumo_json_line",
    "sumo_lines",
    "marshal_log_group",
    "write_s3_objects",
    "read_s3_body_objects",
]

_FORMATS = {
    "otlp_proto": "binpb",
    "otlp_json": "json",
    "sumo_ic": "json.gz",
    "body": "txt",
}


def time_partition_key(ts_col, partition: str = "minute"):
    """`getTimeKey` (`s3_writer.go:26-37`) as a pure-codegen Column over a
    timestamp column: ``year=%d/month=%02d/day=%02d/hour=%02d`` plus
    ``/minute=%02d`` unless ``partition == 'hour'``."""
    parts = [
        F.format_string("year=%d", F.year(ts_col)),
        F.format_string("month=%02d", F.month(ts_col)),
        F.format_string("day=%02d", F.dayofmonth(ts_col)),
        F.format_string("hour=%02d", F.hour(ts_col)),
    ]
    if partition != "hour":
        parts.append(F.format_string("minute=%02d", F.minute(ts_col)))
    return F.concat_ws("/", *parts)


def _deterministic_id(seed: str) -> int:
    """Stands in for `randomInRange(100000000, 999999999)`
    (`s3_writer.go:39-45`): same 9-digit range, but a pure function of
    the object's group key (md5 → int), so reruns are byte-stable."""
    h = int.from_bytes(hashlib.md5(seed.encode()).digest()[:8], "big")
    return 100000000 + h % 899999999


def s3_object_key(
    time_key: str,
    *,
    s3_prefix: str = "",
    file_prefix: str = "",
    metadata: str = "logs",
    file_format: str = "txt",
    compression: str | None = None,
    unique_id: int | None = None,
) -> str:
    """`getS3Key` (`s3_writer.go:43-59`): prefix/timeKey/filePrefix +
    metadata + "_" + id + "." + format, ``.gz`` appended under gzip."""
    suffix = f".{file_format}" if file_format else ""
    uid = (
        unique_id
        if unique_id is not None
        else _deterministic_id(f"{s3_prefix}/{time_key}/{file_prefix}{metadata}")
    )
    key = f"{s3_prefix}/{time_key}/{file_prefix}{metadata}_{uid}{suffix}"
    if compression == "gzip":
        key += ".gz"
    return key


def sumo_json_line(rec: dict) -> bytes:
    """One sumo_ic log entry (`sumo_marshaler.go:76-140`): the three
    ``_source*`` resource attributes are REQUIRED (error when missing),
    removed from ``fields``, and the ``message`` is the attributes map
    with the body under the ``log`` key."""
    res = dict(rec.get("resource") or {})
    try:
        sc = res.pop("_sourceCategory")
        sh = res.pop("_sourceHost")
        sn = res.pop("_sourceName")
    except KeyError as e:
        raise ValueError(f"{e.args[0]} attribute does not exist") from None
    msg = dict(rec.get("attributes") or {})
    msg["log"] = rec.get("body")
    date = go_time_string(int(rec.get("observed_time_unix_nano")
                             or rec.get("time_unix_nano") or 0))
    return (
        b'{"date": ' + go_json_string(date)
        + b',"sourceName":' + go_json_string(str(sn))
        + b',"sourceHost":' + go_json_string(str(sh))
        + b',"sourceCategory":' + go_json_string(str(sc))
        + b',"fields":' + go_json_value(res)
        + b',"message":' + go_json_value(msg)
        + b"}\n"
    )


def marshal_log_group(records: list[dict], marshaler: str) -> bytes:
    """MarshalLogs for one object's record group (`marshaler.go:42-67`)."""
    if marshaler == "body":
        return b"".join(
            ("" if r.get("body") is None else str(r["body"])).encode() + b"\n"
            for r in records
        )
    if marshaler == "sumo_ic":
        return b"".join(sumo_json_line(r) for r in records)
    if marshaler == "otlp_json":
        return json_doc_bytes(records)
    if marshaler == "otlp_proto":
        return encode_logs(records)
    raise ValueError(f"unknown marshaler {marshaler!r}")  # marshaler.go:63


_MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("records", T.LongType()),
        T.StructField("bytes", T.LongType()),
    ]
)


def write_s3_objects(
    df: DataFrame,
    bucket_root: str,
    *,
    marshaler: str = "otlp_json",
    s3_partition: str = "minute",
    s3_prefix: str = "otel",
    file_prefix: str = "",
    compression: str | None = None,
    splits: int = 1,
) -> DataFrame:
    """Write a flat log-record DataFrame as awss3exporter objects under
    ``bucket_root`` (``s3a://bucket`` on a real cluster); returns the
    object manifest (key, records, bytes).

    Plan: the time key is pure codegen; ONE exchange groups rows by
    (time key [, shard]) — each group marshals into exactly one object in
    one Arrow-fed task, rows ordered deterministically so bytes are a
    pure function of the group's row SET. ``splits > 1`` shards hot time
    partitions (the skew valve — a 100 TB backfill has millions of rows
    per minute key)."""
    if marshaler not in _FORMATS:
        raise ValueError(f"unknown marshaler {marshaler!r}")
    fmt = _FORMATS[marshaler]
    os.makedirs(bucket_root, exist_ok=True)
    # default the flat-record columns a thin input (e.g. body-only) may
    # lack — the sort key and shard hash reference them unconditionally
    for c, d in (
        ("scope_name", F.lit("")),
        ("trace_id", F.lit("")),
        ("span_id", F.lit("")),
        ("severity_text", F.lit("")),
        ("severity_number", F.lit(None).cast("int")),
        ("attributes", F.lit(None).cast("map<string,string>")),
        ("resource", F.lit(None).cast("map<string,string>")),
    ):
        if c not in df.columns:
            df = df.withColumn(c, d)
    ts = F.timestamp_micros(F.expr("time_unix_nano div 1000"))
    keyed = df.withColumn("__tkey", time_partition_key(ts, s3_partition))
    gcols = ["__tkey"]
    if splits > 1:
        keyed = keyed.withColumn(
            "__shard",
            F.pmod(F.xxhash64("trace_id", "span_id", "body"), F.lit(splits)),
        )
        gcols.append("__shard")

    def write_group(gkey: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        tkey = str(gkey[0])
        shard = int(gkey[1]) if len(gkey) > 1 else 0
        recs = records_in_order(pdf.drop(columns=gcols))
        recs.sort(
            key=lambda r: (
                tuple(sorted(r["resource"].items())), r["scope_name"],
                r["trace_id"], r["span_id"], r["time_unix_nano"],
                str(r["body"]),
            )
        )
        buf = marshal_log_group(recs, marshaler)
        uid = _deterministic_id(f"{s3_prefix}/{tkey}/{file_prefix}logs/{shard}")
        key = s3_object_key(
            tkey, s3_prefix=s3_prefix, file_prefix=file_prefix,
            metadata="logs", file_format=fmt, compression=compression,
            unique_id=uid,
        )
        raw_len = len(buf)
        if compression == "gzip":
            # mtime pinned so gzip bytes are deterministic (the reference's
            # gzip stream carries no name/mtime either — bytes.Buffer path)
            buf = gzip.compress(buf, mtime=0)
        path = os.path.join(bucket_root, key)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as fh:
            fh.write(buf)
        return pd.DataFrame(
            [{"key": key, "records": len(recs), "bytes": raw_len}]
        )

    return keyed.groupBy(*gcols).applyInPandas(write_group, _MANIFEST_SCHEMA)


_SUMO_SCHEMA = T.StructType([T.StructField("value", T.StringType())])

_SUMO_COLS = (
    "time_unix_nano",
    "body",
    "attributes",
    "resource",
)


def sumo_lines(df: DataFrame) -> DataFrame:
    """Marshal-only sumo_ic surface: one JSON line per record as a
    ``value`` string column (`sumo_marshaler.go:76-140`), a PURE MAP —
    the byte surface of :func:`write_s3_objects` without the file write,
    for golden/oracle checks and for piping into other sinks. The date
    prefers ``observed_time_unix_nano`` when the input carries it
    (`sumo_marshaler.go:127` uses ObservedTimestamp)."""
    cols = list(_SUMO_COLS)
    if "observed_time_unix_nano" in df.columns:
        cols.append("observed_time_unix_nano")

    def one(rec: dict) -> list[dict]:
        rec["attributes"] = dict(rec.get("attributes") or {})
        rec["resource"] = dict(rec.get("resource") or {})
        return [{"value": sumo_json_line(rec).decode("utf-8").rstrip("\n")}]

    return map_records(df.select(*cols), one, _SUMO_SCHEMA)


def read_s3_body_objects(spark: SparkSession, bucket_root: str,
                         s3_prefix: str = "otel") -> DataFrame:
    """Read ``body``-marshaled objects back: one row per line with the
    time-partition levels re-derived from the KEY (the layout is
    Hive-style, so a real deployment reads with partition pruning).
    Distributed text scan; the key parse is pure codegen."""
    txt = (
        spark.read.format("text")
        .option("pathGlobFilter", "*.txt")
        .option("recursiveFileLookup", "true")
        .load(os.path.join(bucket_root, s3_prefix))
        .withColumn("key", F.input_file_name())
    )
    rx = r"year=(\d+)/month=(\d+)/day=(\d+)/hour=(\d+)/minute=(\d+)"
    return txt.select(
        F.col("value").alias("body"),
        F.regexp_extract("key", rx, 1).cast("int").alias("year"),
        F.regexp_extract("key", rx, 2).cast("int").alias("month"),
        F.regexp_extract("key", rx, 3).cast("int").alias("day"),
        F.regexp_extract("key", rx, 4).cast("int").alias("hour"),
        F.regexp_extract("key", rx, 5).cast("int").alias("minute"),
    )
