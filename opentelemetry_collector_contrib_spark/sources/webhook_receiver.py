"""webhookeventreceiver parity — webhook request bodies into flat log
records.

Reference behavior (`receiver/webhookeventreceiver/req_to_log.go`):
one record PER LINE of the request body (bufio.Scanner — terminators
stripped, no empty trailing record), body = the line; non-empty query
parameters become resource attributes; scope name is
``otlp/webhookevent`` (`factory.go:16`). Timestamps are never set —
the record carries only the body (observed time is collector-core
plumbing outside the converter).

Spark shape: one ``map_records`` pass, body-parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..datamodel import FLAT_LOG_SCHEMA
from ..functions.records import as_text, map_records

__all__ = ["webhook_log_records"]

_SCOPE = "otlp/webhookevent"


def webhook_log_records(
    df: DataFrame,
    value_col: str = "value",
    *,
    query: dict[str, str] | None = None,
) -> DataFrame:
    """Request bodies (one per ``value_col`` row) → one record per body
    line (`req_to_log.go:16-37`); ``query`` mirrors the URL query whose
    non-empty values become resource attributes (`:40-47`)."""
    res = {k: v for k, v in (query or {}).items() if v != ""}
    src = df.select(df[value_col].alias("value"))

    def one(row: dict) -> list[dict]:
        return [
            {
                "time_unix_nano": 0,
                "severity_number": 0,
                "severity_text": "",
                "body": line,
                "attributes": {},
                "resource": res,
                "scope_name": _SCOPE,
                "trace_id": "",
                "span_id": "",
            }
            for line in as_text(row["value"]).splitlines()
        ]

    return map_records(src, one, FLAT_LOG_SCHEMA)
