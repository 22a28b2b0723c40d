"""Recombine (multiline) — `transformer/recombine/transformer.go:95-246`.

Reference semantics: batch consecutive entries per source key; a boundary
regex marks `is_first_entry` (or `is_last_entry`); matched batches are
concatenated on `combine_field` joined by `combine_with`; flush on boundary /
max_batch_size / max_log_size / force_flush_timeout.

Batch restatement: within each source, order rows by a monotonic column
(file offset analog), assign a segment id = running count of boundary
matches, then group by (source, segment). It is a window running-sum +
groupBy: the window shuffles by source once and sorts within partitions,
Catalyst handles spill, and no row crosses into Python.

Processing-time flush semantics (force_flush_timeout, ticker at timeout/5 —
transformer.go:58-81) only exist in streaming; see streaming/ for the
session-window analog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def recombine(
    df: DataFrame,
    source_col: str,
    order_col: str,
    combine_col: str,
    is_first_regex: str | None = None,
    *,
    is_last_regex: str | None = None,
    combine_with: str = "\n",
    max_batch_size: int | None = None,
    max_log_size: int | None = None,
    skew_chunk: int | None = None,
) -> DataFrame:
    """Returns (source, segment_id, n_lines, combined).

    Boundary modes (exactly one of is_first_regex / is_last_regex,
    transformer.go:95-147):
    - is_first_entry: a matching row OPENS a new segment → segment id is the
      inclusive running count of matches.
    - is_last_entry: a matching row CLOSES its segment (it belongs to the
      segment it ends; the next row starts fresh) → segment id is the
      EXCLUSIVE running count of matches.

    max_batch_size splits a segment every N rows; max_log_size splits when
    the accumulated combined bytes pass the cap (sub-batch = exclusive
    running size ÷ cap: each flush holds ≤ max_log_size bytes plus the entry
    that tipped it, the reference's flush-after-append behavior).

    skew_chunk handles a hot source key (the generator's 45 % ``src-hot``):
    instead of one giant per-source sort, segment ids come from a two-level
    prefix sum — per-(source, order-range-chunk) boundary counts roll up in
    a TINY window, then each bounded chunk windows independently and adds
    its chunk offset. No task ever sorts more than ~skew_chunk rows of one
    source; results are identical to the single-window form."""
    if (is_first_regex is None) == (is_last_regex is None):
        raise ValueError("exactly one of is_first_regex / is_last_regex required")
    pat = is_first_regex if is_first_regex is not None else is_last_regex
    inclusive = is_first_regex is not None
    boundary = F.col(combine_col).rlike(pat).cast("int")

    if skew_chunk is None:
        w = Window.partitionBy(source_col).orderBy(order_col)
        if inclusive:
            seg = F.sum(boundary).over(w)
        else:
            seg = F.coalesce(
                F.sum(boundary).over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            )
        segmented = df.withColumn("segment_id", seg.cast("string"))
    else:
        marked = df.withColumn(
            "__chunk", F.floor(F.col(order_col) / F.lit(skew_chunk))
        ).withColumn("__b", boundary)
        per_chunk = marked.groupBy(source_col, "__chunk").agg(
            F.sum("__b").alias("__cnt")
        )
        wch = (
            Window.partitionBy(source_col)
            .orderBy("__chunk")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        offsets = per_chunk.withColumn(
            "__off", F.coalesce(F.sum("__cnt").over(wch), F.lit(0))
        ).select(source_col, "__chunk", "__off")
        joined = marked.join(F.broadcast(offsets), [source_col, "__chunk"])
        w2 = Window.partitionBy(source_col, "__chunk").orderBy(order_col)
        if inclusive:
            within = F.sum("__b").over(w2)
        else:
            within = F.coalesce(
                F.sum("__b").over(w2.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            )
        segmented = (
            joined.withColumn("segment_id", (F.col("__off") + within).cast("string"))
            .drop("__chunk", "__b", "__off")
        )

    if max_batch_size is not None:
        # flush-on-max_batch_size: split oversized segments by position
        w2 = Window.partitionBy(source_col, "segment_id").orderBy(order_col)
        pos = F.row_number().over(w2) - 1
        segmented = segmented.withColumn(
            "segment_id",
            F.concat_ws(
                "#",
                F.col("segment_id"),
                F.floor(pos / max_batch_size).cast("string"),
            ),
        )
    if max_log_size is not None:
        # flush-on-byte-cap: exclusive running size of the combined output
        # (entry bytes + joiner) ÷ cap — each sub-batch carries ≤ cap bytes
        # plus the tipping entry (transformer.go flush-after-append)
        w3 = Window.partitionBy(source_col, "segment_id").orderBy(order_col)
        entry_sz = F.length(F.col(combine_col)) + F.lit(len(combine_with))
        cum_excl = F.coalesce(
            F.sum(entry_sz).over(w3.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        )
        segmented = segmented.withColumn(
            "segment_id",
            F.concat_ws(
                "#",
                F.col("segment_id"),
                F.floor(cum_excl / max_log_size).cast("string"),
            ),
        )
    return (
        segmented.groupBy(source_col, "segment_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.array_join(
                F.array_sort(
                    F.collect_list(F.struct(F.col(order_col).alias("o"), F.col(combine_col).alias("v")))
                ).getField("v"),
                combine_with,
            ).alias("combined"),
        )
    )

