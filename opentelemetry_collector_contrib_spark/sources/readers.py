"""Source readers — receiver analogs.

- ``read_log_lines``     : filelog receiver batch analog (`receiver/
  filelogreceiver`, engine `pkg/stanza/fileconsumer`): spark.read.text per
  line, with file provenance (input_file_name) and a per-file line offset —
  the (Fingerprint, Offset) coordinates of the reference's checkpoint.
- ``read_multiline``     : line_start-regex framing (`pkg/stanza/split/
  split.go:59-194`) via the recombine window.
- ``read_otlp_json``     : otlpjsonfilereceiver — OTLP/JSON ResourceLogs
  tree flattened to the columnar log schema (explode the 3-level nesting,
  `adapter/converter.go` in reverse).
- streaming variants: same readers through readStream (see streaming/).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_log_lines(
    spark: SparkSession,
    path: str,
    max_file_bytes: int | None = 256 << 20,
) -> DataFrame:
    """One row per line with (file, offset) provenance. The offset is the
    line ordinal within its file — resume coordinates at dataset granularity.

    Offsets are STRUCTURAL: each file is read whole (wholetext) and split
    to lines with posexplode, so the ordinal is exact by construction. The
    earlier form ordered a per-file window by monotonically_increasing_id,
    which silently depends on input-split index order — a file spanning
    multiple splits plus a reader change could scramble multiline framing.
    One task per file mirrors the reference's contract anyway (a filelog
    file is consumed by a single reader goroutine, fileconsumer/reader);
    parallelism comes from many files.

    wholetext means one JVM string per file, so a single multi-GB file
    would OOM its task: files larger than ``max_file_bytes`` are routed to
    ``read_log_lines_chunked`` (byte-range tasks, bounded memory) with
    ordinal offsets, so the output contract is identical and multiline
    framing across chunk seams stays intact. The guard costs one
    metadata-only listing (binaryFile, content pruned); pass None to skip
    it and assert all files fit."""
    if max_file_bytes is not None:
        meta = (
            spark.read.format("binaryFile").load(path)
            .select("path", "length").collect()
        )
        # compressed files decompress transparently through the wholetext
        # path (Hadoop codecs by extension) but can NEVER go to the
        # byte-range chunked reader — gzip is non-splittable in any engine,
        # and a range read would return raw compressed bytes. A multi-GB
        # .gz therefore stays on the wholetext path regardless of size
        # (its decompressed form must fit one task — a format property).
        compressed = (".gz", ".bz2", ".deflate")
        big = [
            r.path for r in meta
            if int(r.length) > max_file_bytes
            and not r.path.endswith(compressed)
        ]
        if big:
            big_set = set(big)
            small = [
                r.path for r in meta
                if int(r.length) > 0 and r.path not in big_set
            ]
            chunked = read_log_lines_chunked(
                spark, big, chunk_bytes=min(max_file_bytes, 64 << 20),
                offsets="ordinal",
            )
            if not small:
                return chunked
            return _read_log_lines_wholetext(spark, small).unionByName(chunked)
    return _read_log_lines_wholetext(spark, path)


def _read_log_lines_wholetext(
    spark: SparkSession, path: "str | list[str]"
) -> DataFrame:
    raw = (
        spark.read.text(path, wholetext=True)
        .select(F.col("value"), F.input_file_name().alias("file"))
        .filter(F.length(F.col("value")) > 0)  # empty file → no lines
    )
    # split on \r\n | \r | \n — the same terminators Hadoop's
    # LineRecordReader recognizes, so CRLF (and legacy CR) log files yield
    # clean lines with no trailing '\r' to break anchored parsers (ADVICE r03)
    arr = F.split(F.col("value"), "\r\n|\r|\n")
    # spark.read.text emits no empty trailing line for "a\nb\n" — drop the
    # split artifact only when the file ends with a newline
    arr = F.when(
        (F.size(arr) > 1) & (F.element_at(arr, -1) == ""),
        F.slice(arr, 1, F.size(arr) - 1),
    ).otherwise(arr)
    return raw.select(
        "file", F.posexplode(arr).alias("offset", "line")
    ).select("line", "file", "offset")


def read_log_lines_chunked(
    spark: SparkSession,
    path: str,
    chunk_bytes: int = 64 << 20,
    offsets: str = "byte",
) -> DataFrame:
    """Byte-range chunked line reader for files too large for one task —
    the batch analog of Hadoop's TextInputFormat split contract, built the
    Spark-idiomatic way: a driver-side listing (`binaryFile` metadata only
    — content column pruned, nothing is read) plans (file, start, end)
    range tasks, and each task reads ONLY its range via ``pyarrow.fs``
    (local/HDFS/S3 URIs alike) inside mapInPandas, so per-task memory is
    bounded by ``chunk_bytes`` + the longest line, never by file size.

    Seam correctness (fileconsumer contract: no line lost, none duplicated):
    a chunk owns exactly the lines whose FIRST byte falls in [start, end).
    Each task reads one lookback byte (is ``start`` a line start?) and
    extends its final line past ``end`` in bounded continuation reads until
    the terminator — identical to LineRecordReader's read-one-past-split
    rule. '\\n' terminates; a trailing '\\r' is stripped, so CRLF files and
    terminators split across the seam both frame correctly.

    offsets='byte' (default, ONE pass): `offset` is the line's absolute
    byte position — exact, monotone per file, valid as a recombine/framing
    ordering key and matching the reference checkpoint's (Fingerprint,
    Offset) coordinates (pkg/stanza/fileconsumer reader.go offsets are
    bytes too). offsets='ordinal': line ordinals matching read_log_lines,
    derived without any big shuffle — per-chunk line counts (tiny: one row
    per chunk) get a cumulative base via a window over chunk ids, broadcast
    back; costs a second read of the ranges."""
    if offsets not in ("byte", "ordinal"):
        raise ValueError(f"offsets must be 'byte' or 'ordinal', got {offsets!r}")
    from typing import Iterator

    import pandas as pd

    meta = (
        spark.read.format("binaryFile").load(path)
        .select("path", "length")
        .collect()
    )
    tasks = [
        (r.path, ci, s, min(s + chunk_bytes, int(r.length)))
        for r in meta
        if int(r.length) > 0
        for ci, s in enumerate(range(0, int(r.length), chunk_bytes))
    ]
    if not tasks:
        return spark.createDataFrame(
            [], "line string, file string, offset long"
        )
    n_part = min(len(tasks), spark.sparkContext.defaultParallelism * 4)
    tasks_df = spark.createDataFrame(
        tasks, "file string, chunk long, start long, end long"
    ).repartition(n_part, "file", "chunk")

    def gen(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import pyarrow.fs as pafs

        for pdf in batches:
            files, chunks, idxs, offs, lines = [], [], [], [], []
            for file, chunk, start, end in zip(
                pdf["file"], pdf["chunk"], pdf["start"], pdf["end"]
            ):
                start, end = int(start), int(end)
                fsys, p = pafs.FileSystem.from_uri(file)
                with fsys.open_input_file(p) as f:
                    lb = 1 if start > 0 else 0
                    f.seek(start - lb)
                    buf = f.read(end - start + lb)
                    # absolute line-start positions owned by this chunk:
                    # 0, and every position right after a '\n'
                    starts = []
                    if start == 0:
                        starts.append(0)
                    base = start - lb
                    i = buf.find(b"\n")
                    while i != -1:
                        s = base + i + 1
                        if s >= end:
                            break
                        if s >= start:
                            starts.append(s)
                        i = buf.find(b"\n", i + 1)
                    for j, s in enumerate(starts):
                        rel = s - base
                        nl = buf.find(b"\n", rel)
                        if nl != -1:
                            raw = buf[rel:nl]
                        else:
                            # final line crosses the seam: bounded
                            # continuation reads until terminator or EOF
                            raw = bytearray(buf[rel:])
                            while True:
                                block = f.read(1 << 22)
                                if not block:
                                    break
                                k = block.find(b"\n")
                                if k != -1:
                                    raw += block[:k]
                                    break
                                raw += block
                            raw = bytes(raw)
                        if raw.endswith(b"\r"):
                            raw = raw[:-1]
                        files.append(file)
                        chunks.append(int(chunk))
                        idxs.append(j)
                        offs.append(s)
                        lines.append(raw.decode("utf-8", errors="replace"))
            yield pd.DataFrame(
                dict(line=lines, file=files, chunk=chunks, idx=idxs,
                     byte_offset=offs)
            )

    out = tasks_df.mapInPandas(
        gen, "line string, file string, chunk long, idx long, byte_offset long"
    )
    if offsets == "byte":
        return out.select(
            "line", "file", F.col("byte_offset").alias("offset")
        )
    from pyspark.sql.window import Window

    counts = out.groupBy("file", "chunk").agg(F.count(F.lit(1)).alias("n"))
    w = (
        Window.partitionBy("file")
        .orderBy("chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bases = counts.withColumn(
        "base", F.coalesce(F.sum("n").over(w), F.lit(0))
    ).select("file", "chunk", "base")
    return (
        out.join(F.broadcast(bases), on=["file", "chunk"])
        .select("line", "file", (F.col("base") + F.col("idx")).alias("offset"))
    )


def read_multiline(
    spark: SparkSession,
    path: str,
    line_start_regex: str,
    combine_with: str = "\n",
) -> DataFrame:
    """Multiline framing: group physical lines into logical entries starting
    at line_start_regex (split.go line_start mode)."""
    from ..operators.recombine import recombine

    lines = read_log_lines(spark, path)
    out = recombine(
        lines, "file", "offset", "line", line_start_regex, combine_with=combine_with
    )
    return out.withColumnRenamed("combined", "line").select(
        "file", "segment_id", "n_lines", "line"
    )


# OTLP/JSON: resourceLogs[].scopeLogs[].logRecords[]
_OTLP_SCHEMA = T.StructType(
    [
        T.StructField(
            "resourceLogs",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField(
                            "resource",
                            T.StructType(
                                [
                                    T.StructField(
                                        "attributes",
                                        T.ArrayType(
                                            T.StructType(
                                                [
                                                    T.StructField("key", T.StringType()),
                                                    T.StructField(
                                                        "value",
                                                        T.StructType(
                                                            [T.StructField("stringValue", T.StringType())]
                                                        ),
                                                    ),
                                                ]
                                            )
                                        ),
                                    )
                                ]
                            ),
                        ),
                        T.StructField(
                            "scopeLogs",
                            T.ArrayType(
                                T.StructType(
                                    [
                                        T.StructField(
                                            "scope",
                                            T.StructType([T.StructField("name", T.StringType())]),
                                        ),
                                        T.StructField(
                                            "logRecords",
                                            T.ArrayType(
                                                T.StructType(
                                                    [
                                                        T.StructField("timeUnixNano", T.StringType()),
                                                        T.StructField("severityNumber", T.IntegerType()),
                                                        T.StructField("severityText", T.StringType()),
                                                        T.StructField(
                                                            "body",
                                                            T.StructType(
                                                                [T.StructField("stringValue", T.StringType())]
                                                            ),
                                                        ),
                                                        T.StructField(
                                                            "attributes",
                                                            T.ArrayType(
                                                                T.StructType(
                                                                    [
                                                                        T.StructField("key", T.StringType()),
                                                                        T.StructField(
                                                                            "value",
                                                                            T.StructType(
                                                                                [
                                                                                    T.StructField(
                                                                                        "stringValue",
                                                                                        T.StringType(),
                                                                                    )
                                                                                ]
                                                                            ),
                                                                        ),
                                                                    ]
                                                                )
                                                            ),
                                                        ),
                                                        T.StructField("traceId", T.StringType()),
                                                        T.StructField("spanId", T.StringType()),
                                                    ]
                                                )
                                            ),
                                        ),
                                    ]
                                )
                            ),
                        ),
                    ]
                )
            ),
        )
    ]
)


def _kv_to_map(arr):
    return F.map_from_entries(
        F.transform(
            arr,
            lambda e: F.struct(
                e.getField("key").alias("key"),
                e.getField("value").getField("stringValue").alias("value"),
            ),
        )
    )


def read_otlp_json(spark: SparkSession, path: str) -> DataFrame:
    """OTLP/JSON file → flat log-record DataFrame: the 3-level tree explodes
    into rows; resource/scope context denormalizes onto each record (the
    columnar inverse of `adapter/converter.go:285-340`)."""
    raw = spark.read.schema(_OTLP_SCHEMA).json(path)
    return parse_otlp_json(raw)


def parse_otlp_json(raw: DataFrame, json_col: str | None = None) -> DataFrame:
    """Explode an OTLP/JSON document tree into flat log records.

    ``raw`` either already has the ``_OTLP_SCHEMA`` top-level columns
    (file scan) or carries whole documents as strings in ``json_col``
    (e.g. kafka otlp_json message values) — the shared flatten half of
    ``read_otlp_json``."""
    if json_col is not None:
        raw = raw.select(
            F.from_json(F.col(json_col).cast("string"), _OTLP_SCHEMA).alias("d")
        ).select("d.*")
    rl = raw.select(F.explode("resourceLogs").alias("rl"))
    sl = rl.select(
        _kv_to_map(F.col("rl.resource.attributes")).alias("resource"),
        F.explode("rl.scopeLogs").alias("sl"),
    )
    rec = sl.select(
        "resource",
        F.col("sl.scope.name").alias("scope_name"),
        F.explode("sl.logRecords").alias("r"),
    )
    return rec.select(
        F.timestamp_micros(
            (F.col("r.timeUnixNano").cast("long") / 1000).cast("long")
        ).alias("ts"),
        F.col("r.severityNumber").alias("severity_number"),
        F.col("r.severityText").alias("severity_text"),
        F.col("r.body.stringValue").alias("body"),
        _kv_to_map(F.col("r.attributes")).alias("attributes"),
        "resource",
        "scope_name",
        F.col("r.traceId").alias("trace_id"),
        F.col("r.spanId").alias("span_id"),
    )


def otlp_json_lines(df: DataFrame) -> DataFrame:
    """Flat log-record DataFrame → one OTLP/JSON document per row — the
    exporter half of ``read_otlp_json`` (the fileexporter's plog JSON-line
    marshaling, `exporter/fileexporter/marshaller.go`, one
    ``plogotlp.ExportRequest`` JSON per line).

    Records regroup by (resource, scope) — the tree levels the reader
    denormalized — entirely JVM-side: ``collect_list`` of record structs
    under a single groupBy, nested struct assembly, ``to_json``. Protobuf
    JSON mapping encodes uint64 as string, so ``timeUnixNano`` is written
    as a string (the reader's schema already parses it that way).

    Input columns: ts, severity_number, severity_text, body,
    attributes map<string,string>, resource map<string,string>, scope_name,
    trace_id, span_id — exactly ``read_otlp_json``'s output, so
    write → read round-trips by construction.
    """
    kv = lambda m: F.transform(  # noqa: E731 — map → OTLP KeyValue list
        F.map_entries(m),
        lambda e: F.struct(
            e.getField("key").alias("key"),
            F.struct(e.getField("value").alias("stringValue")).alias("value"),
        ),
    )
    rec = F.struct(
        (F.unix_micros(F.col("ts").cast("timestamp")) * 1000)
        .cast("string")
        .alias("timeUnixNano"),
        F.col("severity_number").cast("int").alias("severityNumber"),
        F.col("severity_text").alias("severityText"),
        F.struct(F.col("body").alias("stringValue")).alias("body"),
        kv(F.col("attributes")).alias("attributes"),
        F.col("trace_id").alias("traceId"),
        F.col("span_id").alias("spanId"),
    )
    grouped = (
        df.withColumn("_rec", rec)
        .groupBy(
            F.to_json("resource").alias("_res_key"),
            F.col("scope_name"),
        )
        .agg(
            F.first(F.col("resource")).alias("_res"),
            F.collect_list("_rec").alias("_records"),
        )
    )
    doc = F.struct(
        F.array(
            F.struct(
                F.struct(kv(F.col("_res")).alias("attributes")).alias("resource"),
                F.array(
                    F.struct(
                        F.struct(F.col("scope_name").alias("name")).alias("scope"),
                        F.col("_records").alias("logRecords"),
                    )
                ).alias("scopeLogs"),
            )
        ).alias("resourceLogs")
    )
    return grouped.select(F.to_json(doc).alias("value"))


def write_otlp_json(df: DataFrame, path: str) -> None:
    """Write the OTLP/JSON lines of ``otlp_json_lines`` as text files —
    the fileexporter sink surface for this repo (per-route parquet/Iceberg
    tables remain the analytical sinks; this is the wire-format export)."""
    otlp_json_lines(df).write.mode("overwrite").text(path)


def generate_input(
    spark: SparkSession,
    body: str,
    count: int,
    *,
    attributes: dict[str, str] | None = None,
    severity_text: str | None = None,
    static: bool = True,
    base_ts: "str | None" = None,
    interval_us: int = 0,
) -> DataFrame:
    """The stanza ``generate`` input
    (`pkg/stanza/operator/input/generate/input.go:34-55`): emit ``count``
    copies of a static entry. The reference stamps ``time.Now()`` on each
    copy when not static; the deterministic batch analog stamps
    ``base_ts + seq*interval_us`` so reruns are byte-identical (the repo's
    oracle discipline). Built on ``spark.range`` — generation is
    distributed, never a driver loop."""
    df = spark.range(count).select(
        F.col("id").alias("seq"),
        F.lit(body).alias("body"),
        F.lit(severity_text).cast("string").alias("severity_text"),
    )
    if attributes:
        df = df.withColumn(
            "attributes",
            F.create_map(*[F.lit(x) for kv in attributes.items() for x in kv]),
        )
    if not static:
        if base_ts is None:
            raise ValueError("non-static generate needs a deterministic base_ts")
        df = df.withColumn(
            "ts",
            F.timestamp_micros(
                F.unix_micros(F.lit(base_ts).cast("timestamp"))
                + F.col("seq") * F.lit(interval_us)
            ),
        )
    return df


def stream_socket_lines(spark: SparkSession, host: str, port: int) -> DataFrame:
    """TCP line stream → unbounded DataFrame of ``value: string`` — the
    tcplog/syslog-receiver analog (`receiver/tcplogreceiver`,
    `pkg/stanza/operator/input/tcp/input.go:121-186`: accept, split on
    newline, emit entries). Spark's socket source does exactly the
    accept+line-split half; pipe the result through syslog_parser /
    regex_parser for the parse half — the same code as batch.

    Scale note: the built-in socket source is single-connection and
    checkpoint-free (Spark documents it for testing); a production
    deployment fronts the socket fleet with a durable log (Kafka/Kinesis
    receiver) and swaps ONLY this source line — the parse/route/sink
    graph is unchanged. That swap-the-source property is the point of
    keeping ingestion behind this function."""
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", str(port))
        .load()
    )


def udp_spool_listener(
    host: str, port: int, spool_dir: str, flush_every: int = 50
):
    """udplog receiver analog (`receiver/udplogreceiver`, engine
    `pkg/stanza/operator/input/udp/input.go`: one datagram = one entry,
    trailing newline trimmed, no framing). Spark has no UDP source, so the
    receive half is a tiny spool bridge: a daemon thread reads datagrams
    and appends them to files in `spool_dir`; `stream_udp_lines` (or any
    file/stream reader) consumes the spool. The datagram→durable-spool hop
    is exactly what the reference's udp input does into its pipeline
    channel — here the channel is files so Spark's checkpointed file
    source provides the delivery guarantees.

    Returns (socket, stop): call stop() to flush and close. Files are
    written whole-then-renamed so the streaming reader never sees a
    partial file."""
    import os
    import socket
    import threading
    import uuid

    os.makedirs(spool_dir, exist_ok=True)
    sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    sock.bind((host, port))
    sock.settimeout(0.2)
    stopped = threading.Event()
    buf: list[str] = []

    def flush():
        if not buf:
            return
        name = f"udp-{uuid.uuid4().hex}.log"
        tmp = os.path.join(spool_dir, "." + name)
        with open(tmp, "w") as f:
            f.write("\n".join(buf) + "\n")
        os.rename(tmp, os.path.join(spool_dir, name))
        buf.clear()

    def run():
        while not stopped.is_set():
            try:
                data, _ = sock.recvfrom(65535)
            except socket.timeout:
                flush()
                continue
            except OSError:
                break
            # input/udp/input.go trims ONE trailing newline; embedded
            # newlines stay (message-oriented, no splitting)
            buf.append(data.decode("utf-8", "replace").removesuffix("\n"))
            if len(buf) >= flush_every:
                flush()
        flush()

    t = threading.Thread(target=run, daemon=True)
    t.start()

    def stop():
        stopped.set()
        t.join(timeout=5)
        sock.close()

    return sock, stop


def stream_udp_lines(spark: SparkSession, spool_dir: str) -> DataFrame:
    """Unbounded ``value: string`` stream over a UDP spool directory —
    pair with ``udp_spool_listener``; pipe through syslog_parser /
    regex_parser exactly like the TCP and file sources."""
    return (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "16")
        .load(spool_dir)
        .select(F.col("value"))
    )


def pipe_spool_listener(fifo_path: str, spool_dir: str, flush_every: int = 200):
    """namedpipe receiver analog (`receiver/namedpipereceiver`, engine
    `pkg/stanza/operator/input/namedpipe`: create/open a FIFO, read
    newline-delimited entries). Same spool bridge as UDP: a daemon thread
    tails the FIFO and lands whole files for the checkpointed file source.
    Creates the FIFO if absent. Returns stop()."""
    import os
    import threading
    import uuid

    os.makedirs(spool_dir, exist_ok=True)
    if not os.path.exists(fifo_path):
        os.mkfifo(fifo_path)
    stopped = threading.Event()
    buf: list[str] = []

    def flush():
        if not buf:
            return
        name = f"pipe-{uuid.uuid4().hex}.log"
        tmp = os.path.join(spool_dir, "." + name)
        with open(tmp, "w") as f:
            f.write("\n".join(buf) + "\n")
        os.rename(tmp, os.path.join(spool_dir, name))
        buf.clear()

    def run():
        # opening read-only blocks until a writer appears; O_NONBLOCK lets
        # the stop flag win
        fd = os.open(fifo_path, os.O_RDONLY | os.O_NONBLOCK)
        partial = b""
        try:
            while not stopped.is_set():
                try:
                    chunk = os.read(fd, 65536)
                except BlockingIOError:
                    chunk = b""
                if not chunk:
                    flush()
                    stopped.wait(0.1)
                    continue
                partial += chunk
                *lines, partial = partial.split(b"\n")
                buf.extend(l.decode("utf-8", "replace") for l in lines)
                if len(buf) >= flush_every:
                    flush()
            if partial:
                buf.append(partial.decode("utf-8", "replace"))
            flush()
        finally:
            os.close(fd)

    t = threading.Thread(target=run, daemon=True)
    t.start()

    def stop():
        stopped.set()
        t.join(timeout=5)

    return stop


def subprocess_spool_follower(
    cmd: list[str], spool_dir: str, flush_every: int = 200
):
    """Live subscription half of the subprocess-fed inputs — journald's
    long-lived ``journalctl -f -o json`` (`pkg/stanza/operator/input/
    journald/input.go` starts exactly this command and scans stdout) and
    any eventlog-style follower. Same spool bridge as the UDP/FIFO
    sources: a daemon thread tails the child's stdout and lands whole
    files (atomic rename) for the checkpointed streaming file source, so
    the subscription composes with `stream_udp_lines`-style readStream +
    `journald_parser` unchanged.

    The command is caller-supplied because it is host-specific (journalctl
    flags, Windows event CLIs); tests exercise the bridge with a stub
    emitter. Returns (proc, stop) — stop() terminates the child and
    flushes the tail."""
    import os
    import subprocess
    import threading
    import uuid

    os.makedirs(spool_dir, exist_ok=True)
    proc = subprocess.Popen(
        cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, bufsize=1,
        text=True,
    )
    stopped = threading.Event()
    buf: list[str] = []
    # flush() and buf are touched by BOTH the reader thread and stop()'s
    # final drain: without the lock a timed-out join would let two threads
    # snapshot the same buf into two spool files (duplicated lines) or
    # lose a line appended between join and clear
    lock = threading.Lock()

    def flush():
        with lock:
            if not buf:
                return
            name = f"sub-{uuid.uuid4().hex}.log"
            tmp = os.path.join(spool_dir, "." + name)
            with open(tmp, "w") as f:
                f.write("\n".join(buf) + "\n")
            os.rename(tmp, os.path.join(spool_dir, name))
            buf.clear()

    def run():
        try:
            for line in proc.stdout:
                with lock:
                    buf.append(line.rstrip("\n"))
                    full = len(buf) >= flush_every
                if full or stopped.is_set():
                    flush()
                if stopped.is_set():
                    break
        finally:
            flush()

    t = threading.Thread(target=run, daemon=True)
    t.start()

    def stop():
        stopped.set()
        proc.terminate()
        try:
            proc.wait(timeout=5)
        except Exception:
            proc.kill()
        t.join(timeout=5)
        flush()

    return proc, stop


def read_stdin_lines(spark: SparkSession) -> DataFrame:
    """stdin receiver analog (`pkg/stanza/operator/input/stdin`): drain
    standard input ONCE into a batch DataFrame of ``line: string``. The
    driver reads stdin (a process has exactly one stdin — inherently
    driver-side, like the reference's single scanner goroutine) and
    parallelizes the collected lines; pipe through the same parsers."""
    import sys

    lines = [l.rstrip("\n") for l in sys.stdin]
    return spark.createDataFrame(
        [(l,) for l in lines], T.StructType([T.StructField("line", T.StringType())])
    )


def read_journald_export(spark: SparkSession, path: str) -> DataFrame:
    """Batch read of ``journalctl -o json`` export files → parsed entries
    (`pkg/stanza/operator/input/journald/input.go`). The reference's journald
    input is a long-lived journalctl subprocess; at rest the same records are
    an export file of JSON lines, which is what a 100 TB backfill actually
    reads. Plain distributed text scan → `journald_parser`; resume uses the
    per-row ``cursor`` exactly like the reference's persisted
    ``lastReadCursorKey`` (input.go:153).
    """
    from ..operators.parse import journald_parser

    raw = spark.read.text(path).withColumnRenamed("value", "line")
    return journald_parser(raw, "line")
