"""LogicMonitor exporter parity (log path) — log records → LM log
inputs.

Reference behavior
(`exporter/logicmonitorexporter/logs_exporter.go:64-140`):

- one LogInput per record: message = the body, timestamp = the
  record timestamp falling back to the observed timestamp then now
  (pinned), rendered via ``pcommon.Timestamp.String()`` — Go
  ``time.Time.String()`` (``2006-01-02 15:04:05.999999999 -0700
  MST``);
- metadata = the record attributes; resource map = the resource
  attributes, with the ``hostname`` attribute ALSO copied under
  ``system.hostname`` (the LM resource-mapping property,
  `logs_exporter.go:26-29,84-90` — both keys end up present).

Spark shape: one ``map_records`` pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, types as T

from ..functions.gofmt import go_time_string
from ..functions.records import map_records

__all__ = ["lm_log_inputs"]

_SCHEMA = T.StructType(
    [
        T.StructField("message", T.StringType()),
        T.StructField("timestamp", T.StringType()),
        T.StructField(
            "resource_map", T.MapType(T.StringType(), T.StringType())
        ),
        T.StructField(
            "metadata", T.MapType(T.StringType(), T.StringType())
        ),
    ]
)


def lm_log_inputs(df: DataFrame, now_ns: int = 0) -> DataFrame:
    """Flat log-record rows → LM LogInput rows. Zero-shuffle."""

    def one(rec: dict) -> list[dict]:
        ts = int(rec.get("time_unix_nano") or 0)
        if ts == 0:
            ts = int(rec.get("observed_time_unix_nano") or 0)
        if ts == 0:
            ts = now_ns
        resource = {
            str(k): str(v) for k, v in dict(rec.get("resource") or {}).items()
        }
        if "hostname" in resource:
            resource["system.hostname"] = resource["hostname"]
        body = rec.get("body")
        return [
            {
                "message": "" if body is None else str(body),
                "timestamp": go_time_string(ts),
                "resource_map": resource,
                "metadata": {
                    str(k): str(v)
                    for k, v in dict(rec.get("attributes") or {}).items()
                },
            }
        ]

    return map_records(df, one, _SCHEMA)
