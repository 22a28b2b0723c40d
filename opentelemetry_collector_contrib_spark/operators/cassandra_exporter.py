"""Cassandra exporter parity (log path) — log records → the CQL
insert row shape plus the keyspace/table DDL strings.

Reference behavior (`exporter/cassandraexporter/exporter_logs.go`,
`constants.go`, `helper.go:8-17`):

- one insert per record with the 9 bound columns ``timestamp,
  traceid, spanid, traceflags, severitytext, severitynumber, body,
  resourceattributes, logattributes``;
- ``attributesToMap`` json.Marshals EVERY attribute value — a string
  value binds as its JSON form (``"v"`` WITH quotes), ints as bare
  numbers (quirk preserved); the body binds as
  ``json.Marshal(body.AsRaw())`` — a string body is quoted the same
  way;
- DDL: ``CREATE KEYSPACE IF NOT EXISTS %s WITH REPLICATION =
  { 'class' : '%s', 'replication_factor' : %d };`` and the log table
  with ``PRIMARY KEY (SpanId, SeverityNumber)`` and the configured
  compression class — byte-identical rendering.

Spark shape: one ``map_records`` pass (Go-JSON value rendering);
the 100 TB sink is the Spark-Cassandra connector over exactly this
row shape, partitioned by the table's partition key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, types as T

from ..functions.gofmt import go_json_value
from ..functions.records import map_records, null_as_none

__all__ = [
    "cassandra_log_rows",
    "render_create_database_sql",
    "render_create_log_table_sql",
    "render_insert_log_sql",
]

_CREATE_DATABASE_SQL = (
    "CREATE KEYSPACE IF NOT EXISTS %s WITH REPLICATION = "
    "{ 'class' : '%s', 'replication_factor' : %d };"
)
_CREATE_LOG_TABLE_SQL = (
    "CREATE TABLE IF NOT EXISTS %s.%s (TimeStamp TimeStamp, TraceId text, "
    "SpanId text, TraceFlags int, SeverityText text, SeverityNumber int, "
    "Body text, ResourceAttributes map<text, text>, "
    "LogAttributes map<text, text>, PRIMARY KEY (SpanId, SeverityNumber)) "
    "WITH COMPRESSION = {'class': '%s'}"
)
_INSERT_LOG_SQL = (
    "INSERT INTO %s.%s (timestamp, traceid, spanid, traceflags, "
    "severitytext, severitynumber, body, resourceattributes, "
    "logattributes) VALUES(?, ?, ?, ?, ?, ?, ?, ?, ?)"
)


def render_create_database_sql(
    keyspace: str, replication_class: str = "SimpleStrategy",
    replication_factor: int = 1,
) -> str:
    return _CREATE_DATABASE_SQL % (
        keyspace, replication_class, replication_factor
    )


def render_create_log_table_sql(
    keyspace: str, table: str = "otel_logs",
    compression: str = "LZ4Compressor",
) -> str:
    return _CREATE_LOG_TABLE_SQL % (keyspace, table, compression)


def render_insert_log_sql(keyspace: str, table: str = "otel_logs") -> str:
    return _INSERT_LOG_SQL % (keyspace, table)


_SCHEMA = T.StructType(
    [
        T.StructField("timestamp", T.LongType()),
        T.StructField("traceid", T.StringType()),
        T.StructField("spanid", T.StringType()),
        T.StructField("traceflags", T.IntegerType()),
        T.StructField("severitytext", T.StringType()),
        T.StructField("severitynumber", T.IntegerType()),
        T.StructField("body", T.StringType()),
        T.StructField(
            "resourceattributes", T.MapType(T.StringType(), T.StringType())
        ),
        T.StructField(
            "logattributes", T.MapType(T.StringType(), T.StringType())
        ),
    ]
)


def _marshal_map(m) -> dict:
    return {str(k): go_json_value(v).decode() for k, v in dict(m or {}).items()}


def _cassandra_row(row: dict) -> dict:
    rec = {c: null_as_none(v) for c, v in row.items()}
    return {
        "timestamp": int(rec.get("time_unix_nano") or 0),
        "traceid": str(rec.get("trace_id") or ""),
        "spanid": str(rec.get("span_id") or ""),
        "traceflags": int(rec.get("flags") or 0),
        "severitytext": str(rec.get("severity_text") or ""),
        "severitynumber": int(rec.get("severity_number") or 0),
        "body": go_json_value(rec.get("body")).decode(),
        "resourceattributes": _marshal_map(rec.get("resource")),
        "logattributes": _marshal_map(rec.get("attributes")),
    }


def cassandra_log_rows(df: DataFrame) -> DataFrame:
    """Flat log-record rows → the 9 CQL bind columns
    (`exporter_logs.go:113-146`) — attribute values and the body in
    their json.Marshal forms. Zero-shuffle."""
    return map_records(df, lambda rec: [_cassandra_row(rec)], _SCHEMA)
