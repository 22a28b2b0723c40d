"""Structured Streaming pipeline: stream result must equal batch result
(trigger-agnostic transformations), plus incremental-delivery semantics."""

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.plans.pipeline import full_pipeline
from opentelemetry_collector_contrib_spark.sources.tokengen import tokens_df
from opentelemetry_collector_contrib_spark.streaming.stream_pipeline import (
    run_streaming_to_completion,
    stream_tokens_source,
    streaming_pipeline,
    windowed_counts,
)

N = 2000


@pytest.fixture(scope="module")
def tokens_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("stream") / "tokens")
    tokens_df(spark, N, num_partitions=8).write.parquet(p)
    return p


def test_stream_equals_batch(spark, tokens_path, tmp_path):
    out = str(tmp_path / "routed")
    run_streaming_to_completion(spark, tokens_path, out)

    got = spark.read.option("basePath", f"{out}/data").parquet(f"{out}/data")
    batch_routed, _ = full_pipeline(spark.read.parquet(tokens_path), spark)
    a = {(r.doc_id, r.route) for r in got.select("doc_id", "route").collect()}
    b = {(r.doc_id, r.route) for r in batch_routed.select("doc_id", "route").collect()}
    assert a == b
    assert len(a) == N


def test_streaming_restart_no_duplicates(spark, tokens_path, tmp_path):
    out = str(tmp_path / "routed2")
    run_streaming_to_completion(spark, tokens_path, out)
    # second run with same checkpoint: no new data → no duplicates
    run_streaming_to_completion(spark, tokens_path, out)
    n = spark.read.parquet(f"{out}/data").count()
    assert n == N


def test_streaming_replayed_batch_adds_no_rows(spark, tokens_path, tmp_path):
    """A batch whose output landed but whose commit did not (a crash between
    the two) runs again on restart; the sink must skip it, not append its
    rows a second time."""
    import os

    out = str(tmp_path / "routed3")
    run_streaming_to_completion(spark, tokens_path, out)
    commits = f"{out}/_checkpoint/commits"
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    assert last > 0  # more than one batch, so the replay is the last of several
    os.remove(f"{commits}/{last}")
    os.remove(f"{commits}/.{last}.crc")
    run_streaming_to_completion(spark, tokens_path, out)
    ids = [r.doc_id for r in spark.read.parquet(f"{out}/data").select("doc_id").collect()]
    assert len(ids) == len(set(ids)) == N


def test_windowed_counts_batch_semantics(spark, tokens_path):
    """Window aggregation validated on the batch frame (same expression the
    stream uses)."""
    routed, _ = full_pipeline(spark.read.parquet(tokens_path), spark)
    wc = windowed_counts(routed, window="6 hours").collect()
    # rows without event time (malformed lines) fall outside any window —
    # the count connector on streams only sees time-parseable records
    with_ts = routed.filter("ts is not null").count()
    assert sum(r.row_count for r in wc) == with_ts
    assert 0 < with_ts < N
    assert all(r.window_start is not None for r in wc)


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Re-delivered rows (same content hash) collapse to one inside the
    watermark horizon; state stays bounded by eviction."""
    import datetime

    from pyspark.sql import Row
    from opentelemetry_collector_contrib_spark.streaming.stream_pipeline import (
        streaming_dedup,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ck")
    base = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    for i in range(50):
        # every row delivered twice (duplicate key), distinct timestamps
        for _ in range(2):
            rows.append(Row(k=f"key-{i}", ts=base + datetime.timedelta(seconds=i)))
    spark.createDataFrame(rows, "k string, ts timestamp").coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)

    stream = (
        spark.readStream.schema("k string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    deduped = streaming_dedup(stream, ["k"], "ts", "5 minutes")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 50
    assert got.select("k").distinct().count() == 50


def test_socket_source_syslog_pipeline(spark, tmp_path):
    """Live TCP ingestion: a background thread serves RFC3164 lines over a
    socket; the stream parses PRI/facility/severity with the SAME batch
    syslog_parser and lands per-route parquet. (tcplog receiver analog.)"""
    import socket
    import threading
    import time as _time

    from opentelemetry_collector_contrib_spark.sources.readers import (
        stream_socket_lines,
    )
    from opentelemetry_collector_contrib_spark.operators.parse import syslog_parser

    lines = [
        f"<{(i * 13) % 192}>Feb {i % 28 + 1} 13:04:05 host-{i % 3} app: msg {i}"
        for i in range(40)
    ]

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    port = srv.getsockname()[1]
    srv.listen(1)

    def serve():
        conn, _ = srv.accept()
        with conn:
            for l in lines:
                conn.sendall((l + "\n").encode())
            _time.sleep(8)  # keep the connection up while the stream drains

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    stream = stream_socket_lines(spark, "127.0.0.1", port)
    parsed = syslog_parser(stream, "value", protocol="rfc3164").select(
        "pri", "facility", "syslog_severity", "host", "msg"
    )
    out = str(tmp_path / "sink")
    q = (
        parsed.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="1 second")
        .start()
    )
    deadline = _time.time() + 60
    while _time.time() < deadline:
        try:
            if spark.read.parquet(out).count() >= len(lines):
                break
        except Exception:
            pass
        _time.sleep(1)
    q.stop()
    srv.close()
    got = spark.read.parquet(out)
    assert got.count() == len(lines)
    row = got.filter("msg = 'msg 7'").collect()[0]
    assert int(row.pri) == (7 * 13) % 192
    assert row.facility == int(row.pri) // 8 and row.syslog_severity == int(row.pri) % 8
    assert row.host == "host-1"


def test_udp_source_syslog_pipeline(spark, tmp_path):
    """Live UDP ingestion (udplog receiver analog): datagrams land in the
    spool via the listener thread, the checkpointed file stream parses
    them with the SAME batch syslog_parser. One datagram = one entry —
    embedded newlines must NOT split (message-oriented semantics,
    input/udp/input.go)."""
    import socket
    import time as _time

    from opentelemetry_collector_contrib_spark.sources.readers import (
        stream_udp_lines,
        udp_spool_listener,
    )
    from opentelemetry_collector_contrib_spark.operators.parse import syslog_parser

    spool = str(tmp_path / "spool")
    srv, stop = udp_spool_listener("127.0.0.1", 0, spool, flush_every=10)
    port = srv.getsockname()[1]

    msgs = [
        f"<{(i * 11) % 192}>Mar {i % 28 + 1} 10:00:0{i % 10} host-{i % 4} app: udp {i}"
        for i in range(30)
    ]
    client = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    for m in msgs:
        client.sendto((m + "\n").encode(), ("127.0.0.1", port))

    stream = stream_udp_lines(spark, spool)
    parsed = syslog_parser(stream, "value", protocol="rfc3164").select(
        "pri", "facility", "syslog_severity", "host", "msg"
    )
    out = str(tmp_path / "sink")
    q = (
        parsed.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="1 second")
        .start()
    )
    deadline = _time.time() + 60
    while _time.time() < deadline:
        try:
            if spark.read.parquet(out).count() >= len(msgs):
                break
        except Exception:
            pass
        _time.sleep(1)
    q.stop()
    stop()
    client.close()
    got = spark.read.parquet(out)
    assert got.count() == len(msgs)
    row = got.filter("msg = 'udp 7'").collect()[0]
    assert int(row.pri) == (7 * 11) % 192
    assert row.facility == int(row.pri) // 8 and row.syslog_severity == int(row.pri) % 8
    assert row.host == "host-3"
