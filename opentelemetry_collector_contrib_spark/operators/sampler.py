"""Probabilistic sampler — `processor/probabilisticsamplerprocessor/logsprocessor.go:51-104`.

Reference: hash the sampling key (trace_id or an attribute source) with
seeded FNV into a 14-bit bucket; keep the record iff
``bucket < percent * 2^14 / 100``; an optional priority attribute can
override the percentage per record. Sampling is deterministic in the key —
the same record samples identically on every node/retry.

Spark: pure column arithmetic (functions/hashing.py) → stays inside
whole-stage codegen; per-source percentages arrive in the ``sample_pct``
enrich column, a lookup in a literal map (plans/pipeline.enrich_stage).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import sampler_keep_col


def probabilistic_sample(
    df: DataFrame,
    key: Column,
    pct: Column | float,
    seed: int = 0,
    priority_pct: Column | None = None,
) -> DataFrame:
    """Keep rows deterministically at pct%; priority_pct (per-row) overrides
    when non-null (sampling_priority semantics, logsprocessor.go:63-78)."""
    eff = pct if isinstance(pct, Column) else F.lit(float(pct))
    if priority_pct is not None:
        eff = F.coalesce(priority_pct, eff)
    return df.filter(sampler_keep_col(key, eff, seed=seed))

