"""Deterministic hashing used across the pipeline.

- ``sampler_bucket_col``: the probabilistic-sampler bucket, mirroring
  `processor/probabilisticsamplerprocessor/logsprocessor.go:51-104` — hash a
  key into a 14-bit bucket, keep if bucket < pct * 2^14 / 100. The reference
  uses seeded FNV; we need a hash that is (a) computable in whole-stage
  codegen and (b) reproducible by SQL oracles (DuckDB), so we use a
  Knuth-style multiplicative hash over a numeric key. Determinism — the same
  row always samples the same way on any cluster size — is the property the
  reference guarantees and tests.

- ``word_token_sql``: the word→token-id function the tokenizer's DuckDB
  oracle uses, so Spark output and the oracle agree exactly
  (ascii/reverse/length are identical in both engines).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SAMPLER_BITS = 14
SAMPLER_BUCKETS = 1 << SAMPLER_BITS  # 16384
_KNUTH = 2654435761  # 2^32 / golden ratio
_M32 = 1 << 32
_M16 = 1 << 16
_SHIFT = 1 << (32 - SAMPLER_BITS)  # take the HIGH 14 bits of the 32-bit mix


def mix32_col(key: Column, seed: int = 0) -> Column:
    """Full 32-bit Knuth multiplicative mix of a long key (the value
    ``sampler_bucket_col`` takes its high 14 bits from). Overflow-free:
    the multiply is split into 16-bit halves so every intermediate stays
    < 2^48 — identical in Spark and DuckDB (`mix32_sql`)."""
    h = F.pmod(key.cast("long") + F.lit(seed), F.lit(_M32))
    lo = h % F.lit(_M16)
    hi = (h / F.lit(_M16)).cast("long")
    return F.pmod(
        lo * F.lit(_KNUTH) + (hi * F.lit(_KNUTH) % F.lit(_M16)) * F.lit(_M16),
        F.lit(_M32),
    )


def mix32_sql(key_sql: str, seed: int = 0) -> str:
    """DuckDB fragment equal to ``mix32_col`` for the correctness oracle."""
    h = f"(((({key_sql}) + {seed}) % {_M32} + {_M32}) % {_M32})"
    lo = f"({h} % {_M16})"
    hi = f"({h} // {_M16})"
    return f"(({lo} * {_KNUTH} + ({hi} * {_KNUTH} % {_M16}) * {_M16}) % {_M32})"


def mix32_py(h: int, seed: int = 0) -> int:
    """Python replica of ``mix32_col`` (same split-multiply modular mix —
    keep the three in sync: Column, SQL, Python)."""
    h = (h + seed) % _M32
    lo, hi = h % _M16, h // _M16
    return (lo * _KNUTH + (hi * _KNUTH % _M16) * _M16) % _M32


def sampler_bucket_col(key: Column, seed: int = 0) -> Column:
    """14-bit deterministic bucket of a long key (JVM-side arithmetic).

    Knuth multiplicative hash done in modular 2^32 arithmetic: the naive
    ``(key+seed)*K`` overflows int64 for keys ≥ ~3.5e9 (Spark wraps
    silently, DuckDB raises → engines diverge), so the multiply is split
    into 16-bit halves — every intermediate stays < 2^48. Bucket = the HIGH
    14 bits of ``h*K mod 2^32`` (low bits of a multiplicative hash are the
    weak ones: they depend only on ``key mod 2^14``)."""
    return (mix32_col(key, seed) / F.lit(_SHIFT)).cast("long")


def sampler_keep_col(key: Column, pct: Column | float, seed: int = 0) -> Column:
    """True iff the row is kept at the given percentage [0..100]."""
    pct_col = pct if isinstance(pct, Column) else F.lit(float(pct))
    threshold = pct_col * SAMPLER_BUCKETS / 100.0
    return sampler_bucket_col(key, seed) < threshold


def sampler_bucket_sql(key_sql: str, seed: int = 0) -> str:
    """Equivalent DuckDB/ANSI fragment for the correctness oracle — the same
    split-multiply modular mix as ``sampler_bucket_col`` (h ≥ 0 after the
    initial pmod, so plain % / // suffice downstream)."""
    h = f"(((({key_sql}) + {seed}) % {_M32} + {_M32}) % {_M32})"
    lo = f"({h} % {_M16})"
    hi = f"({h} // {_M16})"
    mixed = f"(({lo} * {_KNUTH} + ({hi} * {_KNUTH} % {_M16}) * {_M16}) % {_M32})"
    return f"({mixed} // {_SHIFT})"


# word → token id, identical in Spark and DuckDB (both define ascii() as the
# codepoint of the first char, reverse() on strings, length()).
_A, _B, _C, VOCAB = 1000003, 4999, 97, 50257


def word_token_sql(w_sql: str) -> str:
    return f"CAST((ascii({w_sql})*{_A} + ascii(reverse({w_sql}))*{_B} + length({w_sql})*{_C}) % {VOCAB} AS INT)"
