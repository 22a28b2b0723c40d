"""OTLP protobuf codec + kafkaexporter marshaling + fileexporter proto sink.

Golden bytes are HAND-COMPUTED from the public opentelemetry-proto wire
schema (never generated by this codec), so encoder bugs can't self-certify:
`exporter/kafkaexporter/pdata_marshaler.go:21-43` (otlp message shapes),
`exporter/kafkaexporter/raw_marshaler.go:24-71` (raw body marshaling),
`exporter/fileexporter/file_writer.go:40-50` (4-byte BE length framing).
"""

import glob
import os

import pytest

from opentelemetry_collector_contrib_spark.functions.otlp_proto import (
    decode_logs,
    encode_any_value,
    encode_logs,
    frame,
    unframe,
)
from opentelemetry_collector_contrib_spark.operators.file_exporter import (
    read_otlp_proto,
    write_otlp_proto,
    zstd_compress,
    zstd_decompress,
)
from opentelemetry_collector_contrib_spark.functions.gofmt import go_json_string
from opentelemetry_collector_contrib_spark.operators.kafka_exporter import (
    kafka_messages,
)

# one record, one resource attr, one scope — every byte derived by hand
_GOLDEN = bytes.fromhex(
    "0a23"              # LogsData.resource_logs, len 35
    "0a0a"              # ResourceLogs.resource, len 10
    "0a08" "0a0161" "1203" "0a0162"  # KeyValue a -> AnyValue("b")
    "1215"              # ResourceLogs.scope_logs, len 21
    "0a03" "0a0173"     # scope.name = "s"
    "120e"              # log_records[0], len 14
    "1009"              # severity_number = 9
    "1a04" "696e666f"   # severity_text = "info"
    "2a04" "0a026869"   # body = AnyValue("hi")
)

_REC = dict(
    time_unix_nano=0,
    severity_number=9,
    severity_text="info",
    body="hi",
    attributes={},
    resource={"a": "b"},
    scope_name="s",
    trace_id="",
    span_id="",
)


def test_encode_golden_bytes():
    assert encode_logs([_REC]) == _GOLDEN


def test_decode_golden_bytes():
    recs = decode_logs(_GOLDEN)
    assert len(recs) == 1
    r = recs[0]
    assert r["severity_number"] == 9
    assert r["severity_text"] == "info"
    assert r["body"] == "hi"
    assert r["resource"] == {"a": "b"}
    assert r["scope_name"] == "s"


def test_roundtrip_rich_record():
    rec = dict(
        time_unix_nano=1704067200_000_000_123,
        severity_number=17,
        severity_text="error",
        body="boom é漢 <&>",
        attributes={"k1": "v1", "k0": "v0"},
        resource={"service.name": "app", "host": "h1"},
        scope_name="recv/filelog",
        trace_id="0102030405060708090a0b0c0d0e0f10",
        span_id="0102030405060708",
    )
    out = decode_logs(encode_logs([rec]))
    assert len(out) == 1
    got = out[0]
    for k in rec:
        assert got[k] == rec[k], k


def test_anyvalue_types_roundtrip():
    from opentelemetry_collector_contrib_spark.functions.otlp_proto import (
        _decode_any,
    )

    for v in ["s", True, False, -3, 2**40, 3.5, b"\x00\x01",
              ["a", 1, 2.0], {"k": "v", "n": 7}]:
        assert _decode_any(encode_any_value(v)) == v


def test_varint_boundaries():
    from opentelemetry_collector_contrib_spark.functions.otlp_proto import (
        _read_varint,
        _varint,
    )

    for n in [0, 1, 127, 128, 300, 2**32, 2**63 - 1]:
        assert _read_varint(_varint(n), 0)[0] == n
    # proto3 negative int64: 10-byte two's complement
    assert len(_varint(-1)) == 10
    v, _ = _read_varint(_varint(-1), 0)
    assert v - (1 << 64) == -1


def test_frame_unframe():
    assert frame([b"ab"]) == b"\x00\x00\x00\x02ab"
    msgs = [b"", b"x", b"y" * 1000]
    assert unframe(frame(msgs)) == msgs
    with pytest.raises(ValueError):
        unframe(b"\x00\x00\x00\x05ab")  # torn body
    with pytest.raises(ValueError):
        unframe(b"\x00\x00")  # torn header


def test_zstd_roundtrip():
    raw = b"payload " * 500
    assert zstd_decompress(zstd_compress(raw)) == raw


def test_go_json_string_escapes():
    # Go json.Marshal HTML-escapes <>& and keeps UTF-8 literal
    assert go_json_string("a<b") == b'"a\\u003cb"'
    assert go_json_string("x&y>z") == b'"x\\u0026y\\u003ez"'
    assert go_json_string('q"\\\n\t') == b'"q\\"\\\\\\n\\t"'
    assert go_json_string("café") == '"café"'.encode("utf-8")
    assert go_json_string("\x01") == b'"\\u0001"'
    assert go_json_string(" ") == b'"\\u2028"'


def _flat_df(spark, n=40):
    from pyspark.sql import functions as F

    return (
        spark.range(n)
        .select(
            (F.lit(1704067200_000_000_000) + F.col("id") * 1_000_000).alias(
                "time_unix_nano"
            ),
            (F.col("id") % 24 + 1).cast("int").alias("severity_number"),
            F.concat(F.lit("sev"), (F.col("id") % 3).cast("string")).alias(
                "severity_text"
            ),
            F.concat(F.lit("line <"), F.col("id").cast("string"), F.lit("> & done"))
            .alias("body"),
            F.create_map(F.lit("k"), (F.col("id") % 5).cast("string")).alias(
                "attributes"
            ),
            F.create_map(
                F.lit("service.name"),
                F.concat(F.lit("svc"), (F.col("id") % 2).cast("string")),
            ).alias("resource"),
            F.lit("scope").alias("scope_name"),
            F.lower(
                F.lpad(F.conv(F.col("id").cast("string"), 10, 16), 32, "0")
            ).alias("trace_id"),
            F.lower(
                F.lpad(F.conv(F.col("id").cast("string"), 10, 16), 16, "0")
            ).alias("span_id"),
        )
    )


def test_kafka_raw_marshal(spark):
    df = _flat_df(spark, 10)
    msgs = kafka_messages(df, "t", encoding="raw").collect()
    assert len(msgs) == 10
    assert all(m["topic"] == "t" and m["key"] is None for m in msgs)
    values = sorted(bytes(m["value"]) for m in msgs)
    expect = sorted(
        go_json_string(f"line <{i}> & done") for i in range(10)
    )
    assert values == expect


def test_kafka_raw_skips_empty_body(spark):
    from pyspark.sql import functions as F

    df = _flat_df(spark, 4).withColumn(
        "body", F.when(F.col("severity_number") % 2 == 0, F.col("body"))
    )
    n_nonnull = _flat_df(spark, 4).where(
        F.col("severity_number") % 2 == 0
    ).count()
    assert kafka_messages(df, "t", encoding="raw").count() == n_nonnull


def test_kafka_otlp_proto_messages_decode(spark):
    df = _flat_df(spark, 40)
    msgs = kafka_messages(df, "otel", encoding="otlp_proto").collect()
    # one message per (resource, scope) group: 2 resources x 1 scope
    assert len(msgs) == 2
    all_recs = []
    for m in msgs:
        all_recs.extend(decode_logs(bytes(m["value"])))
    assert len(all_recs) == 40
    bodies = sorted(r["body"] for r in all_recs)
    assert bodies == sorted(f"line <{i}> & done" for i in range(40))
    # resource context survives
    assert {r["resource"]["service.name"] for r in all_recs} == {"svc0", "svc1"}


def test_kafka_otlp_proto_splits_bound_message_size(spark):
    df = _flat_df(spark, 40)
    whole = kafka_messages(df, "otel", "otlp_proto").collect()
    sharded = kafka_messages(df, "otel", "otlp_proto", splits=4).collect()
    assert len(sharded) > len(whole)  # hot groups actually split
    assert max(len(bytes(m["value"])) for m in sharded) < max(
        len(bytes(m["value"])) for m in whole
    )
    # the union of decoded records is identical either way
    def all_recs(msgs):
        recs = []
        for m in msgs:
            recs.extend(decode_logs(bytes(m["value"])))
        return sorted((r["body"], r["trace_id"]) for r in recs)

    assert all_recs(sharded) == all_recs(whole)


def test_kafka_otlp_json_messages(spark):
    import json

    msgs = kafka_messages(_flat_df(spark, 12), "otel", "otlp_json").collect()
    assert len(msgs) == 2
    doc = json.loads(bytes(msgs[0]["value"]).decode("utf-8"))
    assert "resourceLogs" in doc


def test_file_proto_roundtrip(spark, tmp_path):
    out = str(tmp_path / "proto_sink")
    df = _flat_df(spark, 60).repartition(3)
    manifest = write_otlp_proto(df, out).collect()
    assert sum(m["messages"] for m in manifest) >= 1
    back = read_otlp_proto(spark, os.path.join(out, "*.proto.*"))
    orig = {(r["body"], r["trace_id"]) for r in df.collect()}
    got = {(r["body"], r["trace_id"]) for r in back.collect()}
    assert got == orig
    assert back.count() == 60


def test_file_proto_zstd_roundtrip(spark, tmp_path):
    out = str(tmp_path / "proto_zstd")
    df = _flat_df(spark, 30).repartition(2)
    write_otlp_proto(df, out, compression="zstd").collect()
    back = read_otlp_proto(
        spark, os.path.join(out, "*.proto.*"), compression="zstd"
    )
    assert back.count() == 30
    assert {r["severity_text"] for r in back.collect()} == {
        "sev0", "sev1", "sev2"
    }


def test_file_proto_rotation_and_backups(spark, tmp_path):
    out = str(tmp_path / "proto_rot")
    df = _flat_df(spark, 200).coalesce(1)
    # tiny size cap -> many parts; keep only 3 backups (+ current)
    manifest = write_otlp_proto(
        df, out, batch_records=10, max_bytes=1500, max_backups=3
    ).collect()
    files = sorted(glob.glob(os.path.join(out, "*.proto.*")))
    assert len(files) == len(manifest) <= 4
    # rotation pruned the oldest parts: surviving part indexes are the tail
    idxs = [int(p.rsplit(".", 1)[1]) for p in files]
    assert idxs == sorted(idxs) and idxs[-1] >= 4
    # the kept tail still reads back cleanly
    back = read_otlp_proto(spark, os.path.join(out, "*.proto.*"))
    kept = back.count()
    assert 0 < kept < 200


def test_grouped_proto_sink(spark, tmp_path):
    """grouping_file_exporter parity: one file series per resource-attr
    value (template prefix*suffix), missing-attr records dropped, path
    traversal re-rooted under the prefix."""
    from pyspark.sql import functions as F

    from opentelemetry_collector_contrib_spark.operators.file_exporter import (
        _group_full_path,
        write_otlp_proto_grouped,
    )

    base = str(tmp_path / "grp")
    df = _flat_df(spark, 30).withColumn(
        "resource",
        F.when(
            F.col("severity_number") % 3 != 0,
            F.create_map(
                F.lit("fileexporter.path_segment"),
                F.concat(F.lit("svc"), (F.col("severity_number") % 2).cast("string")),
            ),
        ),  # every 3rd record lacks the attr -> dropped
    )
    n_grouped = df.where(F.col("resource").isNotNull()).count()
    manifest = write_otlp_proto_grouped(df, f"{base}/logs-*.proto").collect()
    assert sum(m["messages"] for m in manifest) >= 2
    back = read_otlp_proto(spark, f"{base}/logs-*.proto.*")
    assert back.count() == n_grouped  # attr-less records dropped
    # per-file routing: every record in an svc0 file carries svc0
    for m in manifest:
        fname = os.path.basename(m["path"])
        seg = fname.replace("logs-", "").split(".proto")[0]
        recs = read_otlp_proto(spark, m["path"]).collect()
        assert all(
            r["resource"]["fileexporter.path_segment"] == seg for r in recs
        )


def test_group_path_traversal_guard():
    from opentelemetry_collector_contrib_spark.operators.file_exporter import (
        _group_full_path,
    )

    assert _group_full_path("/out/logs-", "svc0", ".proto") == "/out/logs-svc0.proto"
    evil = _group_full_path("/out/logs-", "../../etc/passwd", ".proto")
    assert evil.startswith("/out/")
    nested = _group_full_path("/out/logs-", "a/b", ".proto")
    assert nested == "/out/logs-a/b.proto"


def test_empty_string_body_roundtrips():
    """'' is a SET body (Str(\"\")) and must survive as '', not None."""
    rec = dict(_REC, body="")
    out = decode_logs(encode_logs([rec]))
    assert out[0]["body"] == ""
    # unset body stays unset
    rec2 = dict(_REC, body=None)
    assert decode_logs(encode_logs([rec2]))[0]["body"] is None


def test_truncated_fixed_fields_raise():
    from opentelemetry_collector_contrib_spark.functions.otlp_proto import (
        _fields,
    )

    with pytest.raises(ValueError, match="truncated fixed64"):
        list(_fields(bytes([0x09, 0x01, 0x02])))  # field1 fixed64, 3 bytes
    with pytest.raises(ValueError, match="truncated fixed32"):
        list(_fields(bytes([0x0D, 0x01])))  # field1 fixed32, 1 byte


def test_kafka_otlp_json_nanosecond_exactness(spark):
    """Integer division for ns→µs: a double would mis-round near 1.7e18."""
    import json as _json

    from pyspark.sql import functions as F

    # last 3 digits 900: double(ns) rounds across the µs boundary
    ns = 1704067200123456900
    df = _flat_df(spark, 1).withColumn("time_unix_nano", F.lit(ns))
    msgs = kafka_messages(df, "t", "otlp_json").collect()
    doc = _json.loads(bytes(msgs[0]["value"]).decode())
    t = doc["resourceLogs"][0]["scopeLogs"][0]["logRecords"][0]["timeUnixNano"]
    assert int(t) == (ns // 1000) * 1000  # exact floor-µs, no FP rounding


def test_grouped_sibling_series_never_cross_prune(spark, tmp_path):
    """Segments 'web' and 'web.0001' produce dotted-sibling paths; pruning
    one series must never unlink the other's parts (exact per-series part
    tracking, not path-prefix matching)."""
    from pyspark.sql import functions as F

    from opentelemetry_collector_contrib_spark.operators.file_exporter import (
        write_otlp_proto_grouped,
    )

    base = str(tmp_path / "sib")
    df = _flat_df(spark, 40).withColumn(
        "resource",
        F.create_map(
            F.lit("fileexporter.path_segment"),
            F.when(F.col("severity_number") % 2 == 0, "web").otherwise(
                "web.0001"
            ),
        ),
    )
    # tiny parts + tight backups: heavy rotation on BOTH series
    manifest = write_otlp_proto_grouped(
        df, f"{base}/logs-*.proto", batch_records=2, max_bytes=400,
        max_backups=1,
    ).collect()
    files = {m["path"] for m in manifest}
    assert files == {
        p for p in glob.glob(f"{base}/logs-*.proto.*")
    }  # manifest matches disk exactly (nothing cross-pruned or orphaned)
    webs = [p for p in files if "/logs-web.proto." in p]
    sibs = [p for p in files if "/logs-web.0001.proto." in p]
    assert 1 <= len(webs) <= 2 and 1 <= len(sibs) <= 2
    # both series still readable
    assert read_otlp_proto(spark, f"{base}/logs-*.proto.*").count() > 0


def test_grouped_sanitized_collision_coalesces(spark, tmp_path):
    """'./a' and 'x/../a' both sanitize to '<prefix>/a.proto' (the Go
    fullPath logic strips './', re-roots traversals) → ONE series that
    holds both groups' records (the reference appends both to one shared
    open file via the fullPath-keyed LRU), never an overwrite."""
    from pyspark.sql import functions as F

    from opentelemetry_collector_contrib_spark.operators.file_exporter import (
        _group_full_path,
        write_otlp_proto_grouped,
    )

    base = str(tmp_path / "col")
    assert _group_full_path(f"{base}/logs-", "./a", ".proto") == (
        _group_full_path(f"{base}/logs-", "x/../a", ".proto")
    )
    df = _flat_df(spark, 20).withColumn(
        "resource",
        F.create_map(
            F.lit("fileexporter.path_segment"),
            F.when(F.col("severity_number") % 2 == 0, "./a").otherwise(
                "x/../a"
            ),
        ),
    )
    write_otlp_proto_grouped(df, f"{base}/logs-*.proto").collect()
    back = read_otlp_proto(spark, f"{base}/logs-/a.proto.*")
    assert back.count() == 20  # nothing clobbered


def test_file_json_zstd_framed_roundtrip(spark, tmp_path):
    """fileexporter JSON + compression path: compressed JSON uses the SAME
    4-byte framing as proto (file_writer.go:108-116) — write fmt='json'
    with zstd, read back, values identical."""
    from opentelemetry_collector_contrib_spark.operators.file_exporter import (
        write_otlp_proto,
    )

    out = str(tmp_path / "json_zstd")
    df = _flat_df(spark, 30).repartition(2)
    manifest = write_otlp_proto(
        df, out, compression="zstd", fmt="json", batch_records=7
    ).collect()
    assert all(m["path"].endswith((".json.0000",)) or ".json." in m["path"]
               for m in manifest)
    back = read_otlp_proto(
        spark, os.path.join(out, "*.json.*"), compression="zstd", fmt="json"
    )
    orig = {(r["body"], r["trace_id"], r["time_unix_nano"]) for r in df.collect()}
    got = {(r["body"], r["trace_id"], r["time_unix_nano"]) for r in back.collect()}
    assert got == orig and back.count() == 30
