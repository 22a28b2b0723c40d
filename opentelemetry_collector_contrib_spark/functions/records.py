"""The record boundary: where the marshal/decode family crosses into Python.

The reference's receivers and exporters turn pdata into wire bytes (and
back) one record at a time (SURVEY §1.1, "records the unit of compute").
Their Go-exact formats need Python, and the per-record receivers and
exporters cross the JVM→Python boundary here, in one way: ``map_records``
hands each Arrow batch's rows to a pure ``fn(rec)`` as plain dicts and
rebuilds the batch in the output schema's column order. It is a
zero-shuffle ``mapInPandas``, so it composes with whatever scan or parse
precedes it.

Builders whose output depends on a whole group (batch state machines,
push-request assembly) stay ``applyInPandas`` at their call sites.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

__all__ = ["as_text", "map_records", "null_as_none"]


def map_records(
    df: DataFrame,
    fn: Callable[[dict], Iterable[dict]],
    schema: T.StructType,
) -> DataFrame:
    """Apply ``fn`` to every row of ``df``; ``fn`` returns the output rows
    (0, 1 or many dicts keyed by ``schema``'s field names) for one input
    row, given as a dict of Python values.

    Each batch converts to dicts once (``to_dict("records")``), which
    keeps int64 values Python ``int`` even when every column is numeric
    (``iterrows`` would widen them to float64). Nulls arrive as ``None``,
    or as NaN in numeric columns that hold one."""
    names = schema.names

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[dict] = []
            for rec in pdf.to_dict("records"):
                out.extend(fn(rec))
            yield pd.DataFrame(out, columns=names)

    return df.mapInPandas(gen, schema)


def null_as_none(value):
    """A cell as ``map_records`` hands it over, with SQL NULL as ``None``:
    pandas gives a null as ``None``, or as NaN in a numeric column."""
    if value is None or (isinstance(value, float) and value != value):
        return None
    return value


def as_text(value) -> str:
    """A payload cell as text: binary decodes as UTF-8, null is empty."""
    if value is None:
        return ""
    if isinstance(value, (bytes, bytearray)):
        return bytes(value).decode("utf-8")
    return str(value)
