"""Deterministic generator for the north-rule tokens table.

Shape (BASELINE.json input_hint): ``(doc_id string, tokens array<int32>,
n_tok int32, source string)``. Generation is a pure function of the row id
(splitmix64 counter-based mixing), so the table is identical regardless of
partition count, executor count, or generation order — the property that lets
the pure-Python oracle and the distributed Spark generator agree bit-for-bit,
and that makes re-generation on resume idempotent.

Source distribution is skewed per FIXTURES.md §1: ``src-hot`` ≈ 45 %,
``src-warm`` ≈ 20 %, ten ``src-cold-*`` uniform — a hot key for the
aggregate's map-side partial aggregation in plans/pipeline.py.

Scale note: generation is ``spark.range(n) → mapInPandas`` — embarrassingly
parallel, no shuffle, no driver data; at 10^12 rows you simply raise
``num_partitions`` so each task emits a bounded batch.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..datamodel import TOKENS_SCHEMA

VOCAB = 50257
MIN_TOK, MAX_TOK = 8, 512
_SPAN = MAX_TOK - MIN_TOK + 1  # 505

_C1 = np.uint64(0x9E3779B97F4A7C15)
_C2 = np.uint64(0xBF58476D1CE4E5B9)
_C3 = np.uint64(0x94D049BB133111EB)


def mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer, vectorized over uint64 (public-domain algorithm)."""
    z = (x + _C1).astype(np.uint64)
    z ^= z >> np.uint64(30)
    z = (z * _C2).astype(np.uint64)
    z ^= z >> np.uint64(27)
    z = (z * _C3).astype(np.uint64)
    z ^= z >> np.uint64(31)
    return z


def _u01(x: np.ndarray) -> np.ndarray:
    return x.astype(np.float64) / float(2**64)


def columns_for_ids(ids: np.ndarray, seed: int = 42) -> dict:
    """Pure function row-id array → column dict. Shared by the Spark
    generator and the pytest oracle (single source of truth)."""
    with np.errstate(over="ignore"):
        ids = ids.astype(np.uint64)
        s = np.uint64(seed)

        h_len = mix64(ids * np.uint64(0x8CB92BA72F3D8DD7) + s)
        u = _u01(h_len)
        n_tok = (MIN_TOK + np.floor(_SPAN * u**3)).astype(np.int32)
        n_tok = np.minimum(n_tok, MAX_TOK)

        h_src = mix64(ids * np.uint64(0xD6E8FEB86659FD93) + s + np.uint64(1))
        u2 = _u01(h_src)
        cold_idx = (h_src % np.uint64(10)).astype(np.int64)
        source = np.where(
            u2 < 0.45,
            "src-hot",
            np.where(
                u2 < 0.65,
                "src-warm",
                np.char.add("src-cold-", cold_idx.astype(str)),
            ),
        )

        # flat token generation: token[i][j] = mix(id*K + (j+1)) % VOCAB
        offsets = np.concatenate(([0], np.cumsum(n_tok.astype(np.int64))))
        total = int(offsets[-1])
        row_rep = np.repeat(ids, n_tok.astype(np.int64))
        j = (np.arange(total, dtype=np.uint64) - np.repeat(offsets[:-1].astype(np.uint64), n_tok.astype(np.int64))) + np.uint64(1)
        flat = (mix64(row_rep * np.uint64(0xA24BAED4963EE407) + j * np.uint64(0x9FB21C651E98DF25) + s) % np.uint64(VOCAB)).astype(np.int32)
        tokens = np.split(flat, offsets[1:-1]) if len(ids) else []

        # vectorized doc-%012d (a Python f-string loop here costs more than
        # the entire token generation at bench scale)
        doc_id = np.char.add(
            "doc-", np.char.zfill(ids.astype(np.int64).astype("U12"), 12)
        ).astype(object)

    return {
        "doc_id": doc_id,
        "tokens": tokens,
        "n_tok": n_tok,
        "source": source,
    }


def tokens_df(
    spark: SparkSession,
    n_rows: int,
    seed: int = 42,
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed deterministic tokens table: range → mapInPandas, no shuffle."""
    num_partitions = num_partitions or max(spark.sparkContext.defaultParallelism, 8)

    def gen(batches):
        for pdf in batches:
            cols = columns_for_ids(pdf["id"].to_numpy(), seed=seed)
            yield pd.DataFrame(
                {
                    "doc_id": cols["doc_id"],
                    "tokens": pd.Series(cols["tokens"], dtype=object),
                    "n_tok": cols["n_tok"],
                    "source": cols["source"],
                }
            )

    return (
        spark.range(0, n_rows, 1, num_partitions)
        .mapInPandas(gen, schema=TOKENS_SCHEMA)
    )


def tokens_oracle(n_rows: int, seed: int = 42) -> pd.DataFrame:
    """Driver-side oracle — identical values by construction (same code path)."""
    cols = columns_for_ids(np.arange(n_rows, dtype=np.uint64), seed=seed)
    return pd.DataFrame(
        {
            "doc_id": cols["doc_id"],
            "tokens": [list(map(int, t)) for t in cols["tokens"]],
            "n_tok": cols["n_tok"],
            "source": cols["source"],
        }
    )
