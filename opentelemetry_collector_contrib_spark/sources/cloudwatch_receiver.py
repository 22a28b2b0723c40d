"""AWS CloudWatch receiver parity (log path) — FilterLogEvents
responses → flat log records.

Reference behavior (`receiver/awscloudwatchreceiver/logs.go:230-288`):

- per event: a nil timestamp, event id, or message skips the event
  (logged); the log stream defaults to the sentinel
  ``THIS IS INVALID STREAM`` when absent;
- records group per (log group, log stream) resource with attrs
  ``aws.region``, ``cloudwatch.log.group.name``,
  ``cloudwatch.log.stream``; each record carries timestamp =
  epoch-ms → ns, observed = now (pinned), body = the raw message,
  and the ``id`` attribute;
- the polling/API half (FilterLogEvents pagination, group
  autodiscovery limits) is host-specific; the translation half here
  is faithful and the poll loop composes with the repo's
  checkpointed readers like the other API receivers.

Spark shape: one ``map_records`` pass over event rows
(columns: ``timestamp_ms``, ``event_id``, ``message``,
``log_stream`` nullable, plus a ``log_group`` column).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, types as T

from ..functions.records import map_records, null_as_none

__all__ = ["NO_STREAM_NAME", "cloudwatch_log_records"]

NO_STREAM_NAME = "THIS IS INVALID STREAM"

_SCHEMA = T.StructType(
    [
        T.StructField("time_unix_nano", T.LongType()),
        T.StructField("observed_time_unix_nano", T.LongType()),
        T.StructField("body", T.StringType()),
        T.StructField("attributes", T.MapType(T.StringType(), T.StringType())),
        T.StructField("resource", T.MapType(T.StringType(), T.StringType())),
    ]
)


def cloudwatch_log_records(
    df: DataFrame,
    region: str,
    log_group_col: str = "log_group",
    observed_ns: int = 0,
) -> DataFrame:
    """FilterLogEvents event rows → flat records. Zero-shuffle."""

    def one(row: dict) -> list[dict]:
        ts = null_as_none(row.get("timestamp_ms"))
        eid = null_as_none(row.get("event_id"))
        msg = null_as_none(row.get("message"))
        if ts is None or eid is None or msg is None:
            return []  # nil timestamp/id/message skips the event
        stream = null_as_none(row.get("log_stream"))
        return [
            {
                "time_unix_nano": int(ts) * 1_000_000,
                "observed_time_unix_nano": observed_ns,
                "body": str(msg),
                "attributes": {"id": str(eid)},
                "resource": {
                    "aws.region": region,
                    "cloudwatch.log.group.name": str(
                        null_as_none(row.get(log_group_col)) or ""
                    ),
                    "cloudwatch.log.stream": (
                        str(stream) if stream is not None else NO_STREAM_NAME
                    ),
                },
            }
        ]

    return map_records(df, one, _SCHEMA)
