"""Severity parsing — the default alias table of the stanza severity parser.

Mirrors `pkg/stanza/operator/helper/severity_builder.go:16-105` (otel text
aliases plus HTTP-status buckets 2xx→INFO, 3xx→INFO2(10)… 5xx→ERROR per
severity_builder.go:64-105) over the 24-level enum
(`pkg/stanza/entry/severity.go:14-52`).

One implementation, a Column expression: the lower-cased text looks up a
literal map of the 35 text aliases plus any custom entries; a text that
misses and is a three-digit HTTP status 200-599 takes its bucket's
severity; anything else is default(0). The map is a constant of the plan,
so severity costs no join, no broadcast and no extra job.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .exprs import literal_map, per_jvm

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
# statuses ("204", "503") must resolve them, not fall to default(0). Here a
# status that no alias names falls back to its bucket, keyed by its first
# digit, instead of 400 more map entries for every plan to analyse.
_HTTP_BUCKETS: list[tuple[int, str, int]] = [
    (2, "info", 9),
    (3, "info2", 10),
    (4, "warn", 13),
    (5, "error", 17),
]
# \z, not $: Java's $ also matches before a final line terminator
_HTTP_STATUS = r"^[2-5][0-9][0-9]\z"


def attach_severity(
    df: DataFrame,
    text_col: str,
    custom: list[tuple[str, str, int]] | None = None,
) -> DataFrame:
    """Adds ``severity_text`` and ``severity_number`` for the alias in
    ``text_col`` (matched lower-cased); unknown text → default(0).

    ``custom`` entries (alias, text, number) extend the table and override
    a default alias or an HTTP status of the same name (severity_builder.go
    `mapping:` config: user aliases take precedence); when ``custom`` names
    one alias twice, the later entry wins."""
    text, number = _severity_cols(text_col, tuple(map(tuple, custom or ())))
    return df.withColumns({"severity_text": text, "severity_number": number})


@per_jvm
def _severity_cols(text_col: str, custom: tuple[tuple[str, str, int], ...]) -> tuple[Column, Column]:
    table = {alias: (text, number) for alias, text, number in DEFAULT_ALIASES + list(custom)}
    key = F.lower(F.col(text_col))
    status = key.rlike(_HTTP_STATUS)
    digit = F.substring(key, 1, 1)

    def lookup(i: int, value_type: T.DataType, default) -> Column:
        by_alias = literal_map(list(table), [v[i] for v in table.values()], value_type)
        by_bucket = literal_map([str(b[0]) for b in _HTTP_BUCKETS], [b[i + 1] for b in _HTTP_BUCKETS], value_type)
        return F.coalesce(by_alias[key], F.when(status, by_bucket[digit]), F.lit(default))

    return lookup(0, T.StringType(), "default"), lookup(1, T.IntegerType(), 0)
