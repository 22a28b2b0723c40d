"""Render a parseable log line per tokens row (the FIXTURES.md §1 derived
text view).

The reference consumes raw text lines (filelog receiver →
``pkg/stanza/split/split.go``); our input is the pre-tokenized table, so the
pipeline derives the textual view *in-flight* as a deterministic pure
function of the row — letting the pytest oracle recompute it exactly, and
letting the regex parse stage be exercised at any scale without storing text.

Line shape::

    ts=<iso8601> level=<sev> src=<source> ntok=<n_tok> msg="seq <doc_id> head=<t0> tail=<tN>"

~1 % of rows are malformed (``tokens[1] % 97 == 0``) and render as
``MALFORMED <doc_id> ...`` — these exercise the ``on_error: send``
passthrough path of the parser (`pkg/stanza/operator/helper/parser.go:103-110`).

Everything here is JVM-side Column expressions (whole-stage codegen); the
*parse* direction is ``regex_parser`` in operators/parse.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.exprs import per_jvm

# index into tokens[0] % 7 → level text. Numbers are the OTel severity enum
# (`pkg/stanza/entry/severity.go:14-52`): trace=1 debug=5 info=9 info2=10
# warn=13 error=17 fatal=21.
LEVELS = ["trace", "debug", "info", "info2", "warn", "error", "fatal"]
LEVEL_NUMBERS = {"trace": 1, "debug": 5, "info": 9, "info2": 10, "warn": 13, "error": 17, "fatal": 21}

EPOCH_2024 = 1704067200  # 2024-01-01T00:00:00Z


def row_idx_col(doc_id: Column) -> Column:
    """doc-000000000042 → 42."""
    return F.substring(doc_id, 5, 12).cast("long")


def level_col(tokens: Column) -> Column:
    lv = F.array(*[F.lit(x) for x in LEVELS])
    return F.element_at(lv, (F.element_at(tokens, 1) % 7 + 1).cast("int"))


def is_malformed_col(tokens: Column) -> Column:
    return F.coalesce(F.element_at(tokens, 2) % 97 == 0, F.lit(False))


def ts_col(doc_id: Column) -> Column:
    secs = EPOCH_2024 + row_idx_col(doc_id) % (30 * 86400)
    return F.timestamp_seconds(secs)


def render_lines(df: DataFrame, out: str = "line") -> DataFrame:
    """tokens row → text line column, fully JVM-side."""
    return df.withColumn(out, line_col())


@per_jvm
def line_col() -> Column:
    """The rendered line of a tokens row.

    concat() instead of format_string(): format_string goes through
    java.util.Formatter per row (~5µs/row); concat of pre-cast strings stays
    in codegen (~3× faster end to end at 10M rows)."""
    tokens = F.col("tokens")
    good = F.concat(
        F.lit("ts="),
        F.date_format(ts_col(F.col("doc_id")), "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        F.lit(" level="),
        level_col(tokens),
        F.lit(" src="),
        F.col("source"),
        F.lit(" ntok="),
        F.col("n_tok").cast("string"),
        F.lit(' msg="seq '),
        F.col("doc_id"),
        F.lit(" head="),
        F.element_at(tokens, 1).cast("string"),
        F.lit(" tail="),
        F.element_at(tokens, -1).cast("string"),
        F.lit('"'),
    )
    bad = F.concat(
        F.lit("MALFORMED "), F.col("doc_id"), F.lit(" x="),
        F.element_at(tokens, 1).cast("string"),
    )
    return F.when(is_malformed_col(tokens), bad).otherwise(good)


# The grok pattern that inverts render_lines (named capture groups →
# regex_parser semantics, `pkg/stanza/operator/parser/regex/parser.go:46-74`).
LINE_PATTERN = (
    r'^ts=(?P<ts_str>\S+) level=(?P<level>\w+) src=(?P<src>\S+) '
    r'ntok=(?P<ntok>\d+) msg="seq (?P<seq_id>\S+) head=(?P<head>\d+) tail=(?P<tail>\d+)"$'
)
