"""Gap-based sessionization — groupbytrace / session-window analog.

The reference buffers spans per trace for a wait window
(`processor/groupbytraceprocessor`) and Structured Streaming offers
``session_window`` for the streaming form; the batch restatement is the
classic lag+cumsum: a new session starts where the gap to the previous
event (per key) exceeds the threshold; the session id is the running count
of session starts. One shuffle (by key), all window functions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _micros(c: Column) -> Column:
    # cast handles TIMESTAMP_NTZ parquet columns (unix_micros requires TZ)
    return F.unix_micros(c.cast("timestamp"))


def sessionize(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    gap_seconds: int,
    session_col: str = "session_id",
) -> DataFrame:
    """Assign a per-key session ordinal (0-based) to every row."""
    w = Window.partitionBy(*key_cols).orderBy(ts_col)
    prev = F.lag(F.col(ts_col)).over(w)
    # integer microseconds: exact gap comparisons (no float/rounding skew)
    new_sess = (
        prev.isNull()
        | ((_micros(F.col(ts_col)) - _micros(prev)) > gap_seconds * 1_000_000)
    ).cast("int")
    return df.withColumn(
        session_col, (F.sum(new_sess).over(w) - 1).cast("long")
    )


def session_aggregate(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    gap_seconds: int,
) -> DataFrame:
    """Per-session rollup: bounds, event count, duration."""
    s = sessionize(df, key_cols, ts_col, gap_seconds)
    mic = _micros(F.col(ts_col))
    return s.groupBy(*key_cols, "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        ((F.max(mic) - F.min(mic)) / 1_000_000).cast("long").alias("duration_s"),
    )
