"""Severity parsing — the default alias table of the stanza severity parser.

Mirrors `pkg/stanza/operator/helper/severity_builder.go:16-105` (otel text
aliases plus HTTP-status buckets 2xx→INFO, 3xx→INFO2(10)… 5xx→ERROR per
severity_builder.go:64-105) over the 24-level enum
(`pkg/stanza/entry/severity.go:14-52`).

Two implementations, both JVM-side:
- ``severity_map_df``   : the alias table as a local relation → broadcast join
  (the scalable path: lookup table may be user-extended).
- ``severity_number_col``: chained ``when()`` fallback for inline use.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..datamodel import local_frame

# (alias, canonical_text, number) — default mapping of severity_builder.go.
DEFAULT_ALIASES: list[tuple[str, str, int]] = [
    ("default", "default", 0),
    ("trace", "trace", 1),
    ("trace2", "trace2", 2),
    ("trace3", "trace3", 3),
    ("trace4", "trace4", 4),
    ("debug", "debug", 5),
    ("debug2", "debug2", 6),
    ("debug3", "debug3", 7),
    ("debug4", "debug4", 8),
    ("info", "info", 9),
    ("information", "info", 9),
    ("notice", "info2", 10),
    ("info2", "info2", 10),
    ("info3", "info3", 11),
    ("info4", "info4", 12),
    ("warn", "warn", 13),
    ("warning", "warn", 13),
    ("warn2", "warn2", 14),
    ("warn3", "warn3", 15),
    ("warn4", "warn4", 16),
    ("error", "error", 17),
    ("err", "error", 17),
    ("error2", "error2", 18),
    ("error3", "error3", 19),
    ("error4", "error4", 20),
    ("fatal", "fatal", 21),
    ("catastrophe", "fatal", 21),
    ("emergency", "fatal", 21),
    ("fatal2", "fatal2", 22),
    ("fatal3", "fatal3", 23),
    ("fatal4", "fatal4", 24),
    # HTTP status buckets (severity_builder.go:64-82)
    ("2xx", "info", 9),
    ("3xx", "info2", 10),
    ("4xx", "warn", 13),
    ("5xx", "error", 17),
]

# severity_builder.go:192-210 expands each "Nxx" bucket into the literal
# status codes N00..N99 in the alias map — a pipeline parsing real HTTP
# statuses ("204", "503") must resolve them, not fall to default(0).
_HTTP_BUCKETS: list[tuple[int, str, int]] = [
    (2, "info", 9),
    (3, "info2", 10),
    (4, "warn", 13),
    (5, "error", 17),
]
DEFAULT_ALIASES += [
    (str(code), canon, num)
    for hundred, canon, num in _HTTP_BUCKETS
    for code in range(hundred * 100, hundred * 100 + 100)
]


SEVERITY_MAP_SCHEMA = T.StructType(
    [
        T.StructField("alias", T.StringType(), True),
        T.StructField("severity_text", T.StringType(), True),
        T.StructField("severity_number", T.IntegerType(), True),
    ]
)


def severity_map_df(
    spark: SparkSession, custom: list[tuple[str, str, int]] | None = None
) -> DataFrame:
    """Default alias table, optionally extended/overridden by user mappings
    (severity_builder.go `mapping:` config: user aliases take precedence)."""
    rows = list(DEFAULT_ALIASES)
    if custom:
        overridden = {c[0] for c in custom}
        rows = [r for r in rows if r[0] not in overridden] + list(custom)
    return local_frame(spark, rows, SEVERITY_MAP_SCHEMA)


def attach_severity(
    df: DataFrame,
    text_col: str,
    spark: SparkSession | None = None,
    custom: list[tuple[str, str, int]] | None = None,
) -> DataFrame:
    """Broadcast-join the alias table; unknown text → default(0).

    The join side is ~36 rows → always a BroadcastHashJoin, no shuffle.
    """
    spark = spark or df.sparkSession
    lut = severity_map_df(spark, custom).withColumnRenamed("alias", "__sev_alias")
    out = df.join(
        F.broadcast(lut),
        F.lower(F.col(text_col)) == F.col("__sev_alias"),
        "left",
    ).drop("__sev_alias")
    return out.withColumn(
        "severity_text", F.coalesce(F.col("severity_text"), F.lit("default"))
    ).withColumn(
        "severity_number", F.coalesce(F.col("severity_number"), F.lit(0))
    )


def severity_number_col(text: Column) -> Column:
    """Inline when-chain variant (no join) for use inside expressions.
    HTTP status codes resolve via a range test (one expression, not 400
    whens); text aliases via the chain."""
    http = None
    for hundred, _canon, num in _HTTP_BUCKETS:
        cond = text.rlike(f"^{hundred}[0-9][0-9]$")
        http = F.when(cond, num) if http is None else http.when(cond, num)
    expr = http
    for alias, _canon, num in DEFAULT_ALIASES:
        if alias.isdigit():
            continue  # covered by the range test
        cond = F.lower(text) == alias
        expr = F.when(cond, num) if expr is None else expr.when(cond, num)
    return expr.otherwise(F.lit(0)) if expr is not None else F.lit(0)
