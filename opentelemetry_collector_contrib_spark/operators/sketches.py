"""Count-min sketch over token streams — bounded-memory frequency
estimates over log fields at any scale.

An exact per-key count is bounded only by the key cardinality; a CMS
bounds state at d×w counters REGARDLESS of key cardinality (URLs,
n-grams, user ids) — the standard heavy-hitter
sketch (Cormode & Muthukrishnan 2005). Unlike most sketches, CMS is
DETERMINISTIC given its hash functions: est(x) = min_r counts[r][h_r(x)],
every value an int64 — so the dual-engine oracle replays the whole sketch
exactly with the same mix32 probes. est(x) ≥ true(x) always (collisions
only add), with ε·N overcount at the usual d=⌈ln 1/δ⌉, w=⌈e/ε⌉ bounds.

Physical shape: the sketch build is one groupBy over (row, bucket) —
map-side partial agg collapses each partition to ≤ d·w rows, so the
exchange carries ~d·w·partitions counters, independent of corpus size.
Estimation broadcast-joins the (≤ d·w row) sketch to the queried keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import mix32_col

CMS_DEPTH = 4
CMS_WIDTH = 1024


def cms_build(
    df: DataFrame,
    key_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    weight_col: str | None = None,
) -> DataFrame:
    """(r, bucket, cnt) sketch rows — ≤ depth×width of them. Each input key
    occurrence (optionally weighted) increments one bucket per row r, with
    bucket = mix32(key, seed=r+1) % width."""
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).alias("r"),
                    (mix32_col(F.col(key_col), seed=r + 1) % F.lit(width)).alias("bucket"),
                )
                for r in range(depth)
            ]
        )
    ).alias("__rb")
    w = F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    return (
        df.select(rows, w.alias("__w"))
        .select("__rb.r", "__rb.bucket", "__w")
        .groupBy("r", "bucket")
        .agg(F.sum("__w").alias("cnt"))
    )


def cms_estimate(
    keys: DataFrame,
    sketch: DataFrame,
    key_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """keys + est column: min over the sketch's d probes. Keys absent from
    the stream estimate ≥ 0 (whatever collided into their buckets)."""
    probed = keys.withColumn(
        "__rb",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        (mix32_col(F.col(key_col), seed=r + 1) % F.lit(width)).alias(
                            "bucket"
                        ),
                    )
                    for r in range(depth)
                ]
            )
        ),
    ).select(*keys.columns, F.col("__rb.r").alias("r"), F.col("__rb.bucket").alias("bucket"))
    j = probed.join(F.broadcast(sketch), on=["r", "bucket"], how="left")
    return (
        j.groupBy(*keys.columns)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )


# ---------------------------------------------------------------------------
# HyperLogLog distinct-count sketch (deterministic, integer-exact registers)
#
# Cardinality audits at corpus scale (distinct tokens / n-grams / urls per
# source) need bounded state: exact count-distinct shuffles every distinct
# key, HLL shuffles ≤ m registers per group (Flajolet et al. 2007). Like the
# CMS above, this HLL is DETERMINISTIC given its hash, so the dual-engine
# oracle replays every register and the estimate bit-exactly: rho comes from
# a generated integer CASE chain (no log2/float), and the estimator's
# harmonic sum is kept in fixed point — S = Σ 2^(27-reg) over all m buckets
# (empty bucket ⇒ 2^27) is an exact int64 (≤ m·2^27), and the final
# alpha_m·m²/S division is ONE integer DIV. The small-range linear-counting
# correction (m·ln(m/V)) would need ln(), which is not bit-portable — but
# with m = 64 there are only 64 possible V values, so it ships as a
# compile-time integer lookup table in both engines.
#
# Hash: mix32 alone is UNUSABLE here — it is a single multiplicative hash,
# linear over Z_2^32, so its low bits depend only on key mod 2^k (its own
# docstring warns of this) and composing it stays linear (K·K' is just
# another multiplier). On small sequential token ids the bucket fill is
# round-robin-uniform (zero empty buckets ⇒ linear counting never fires)
# and measured estimates ran +70% hot. The mixer below is three
# multiply-then-rotate rounds (rotations 16/13/7; golden-ratio + xxhash
# primes) — rotation in +,*,%,DIV arithmetic is (x DIV 2^r + (x % 2^r)·
# 2^(32-r)) mod 2^32, so the whole mixer runs in both engines' int64
# arithmetic (split 16-bit multiply keeps every intermediate < 2^48).
# Measured worst-case |error| over adversarial inputs (sequential ids,
# ×64 / ×4096 strided ids, small structured vocabs) is 27% ≈ 2σ for m=64
# (σ = 1.04/√64 ≈ 13%), matching an ideal hash.
#
# Physical shape: groupBy(group, bucket) max(rho) — map-side partial agg
# collapses each partition to ≤ |groups|·m rows before the exchange; the
# per-group estimate is then an m-row aggregate. State is O(groups · m)
# regardless of key cardinality. The mixer is computed STEPWISE over a
# named column (chained selects / chained CTEs), never by textual nesting:
# inlined, each round references its input 4× and the text would grow 4^7×.
# ---------------------------------------------------------------------------

HLL_BUCKETS = 64          # m = 2^6
_HLL_VBITS = 26           # value bits below the 6 high bucket bits
_HLL_ALPHA_NUM, _HLL_ALPHA_DEN = 709, 1000   # alpha_64 = 0.709 (HLL paper)
_HLL_M32 = 1 << 32
_HLL_M16 = 1 << 16
_HLL_K = (2654435761, 2246822519, 3266489917)  # 2^32/φ, xxhash P2, P3
_HLL_ROTS = (16, 13, 7)

# Small-range (linear counting) correction, est = m·ln(m/V) for V zero
# buckets: ln() is not bit-portable across engines, but with m = 64 there
# are only 64 possible V values — so the correction is a COMPILE-TIME
# integer lookup table, embedded as identical literals in the Spark plan
# and the DuckDB oracle. Exactness lives in the table, not in runtime libm.
import math as _math

_HLL_LC_TABLE = {
    v: round(HLL_BUCKETS * _math.log(HLL_BUCKETS / v))
    for v in range(1, HLL_BUCKETS + 1)
}
_HLL_LC_THRESHOLD = 5 * HLL_BUCKETS // 2   # apply below 2.5·m (HLL paper)


def lc_case_sql(v_sql: str) -> str:
    """Linear-counting lookup as a CASE chain — same text both engines."""
    branches = " ".join(
        f"WHEN ({v_sql}) = {v} THEN {e}" for v, e in _HLL_LC_TABLE.items()
    )
    return f"(CASE {branches} ELSE 0 END)"


def bitlen_case_sql(v_sql: str, bits: int = _HLL_VBITS) -> str:
    """Integer bit-length as a CASE chain — identical text runs in Spark
    SQL and DuckDB (no log2(): libm floats are not bit-portable)."""
    branches = " ".join(
        f"WHEN ({v_sql}) >= {1 << (w - 1)} THEN {w}" for w in range(bits, 0, -1)
    )
    return f"(CASE {branches} ELSE 0 END)"


def hll_mix_steps(seed: int = 1, div: str = "//") -> list[str]:
    """The mixer as per-step SQL expressions over a column named ``x`` —
    step i reads the column step i-1 wrote. Spark folds them over chained
    selects (``div='DIV'``), the DuckDB oracle chains them as CTEs
    (``div='//'``); apart from the integer-division spelling the arithmetic
    text is identical, and ``hll_mix_py`` is the driver-side replica tests
    pin both engines against. All values stay non-negative after step 0, so
    plain ``%`` agrees between Java and DuckDB semantics."""
    steps = [f"((x + {seed} * {_HLL_K[2]}) % {_HLL_M32} + {_HLL_M32}) % {_HLL_M32}"]
    for r, k in zip(_HLL_ROTS, _HLL_K):
        steps.append(
            f"((x % {_HLL_M16}) * {k} + ((x {div} {_HLL_M16}) * {k} % {_HLL_M16})"
            f" * {_HLL_M16}) % {_HLL_M32}"
        )
        steps.append(
            f"(x {div} {1 << r} + (x % {1 << r}) * {1 << (32 - r)}) % {_HLL_M32}"
        )
    k = _HLL_K[0]
    steps.append(
        f"((x % {_HLL_M16}) * {k} + ((x {div} {_HLL_M16}) * {k} % {_HLL_M16})"
        f" * {_HLL_M16}) % {_HLL_M32}"
    )
    return steps


def hll_mix_py(key: int, seed: int = 1) -> int:
    """Pure-python replica of ``hll_mix_steps`` for tests."""
    x = (key + seed * _HLL_K[2]) % _HLL_M32
    for r, k in zip(_HLL_ROTS, _HLL_K):
        x = ((x % _HLL_M16) * k + ((x // _HLL_M16) * k % _HLL_M16) * _HLL_M16) % _HLL_M32
        x = (x // (1 << r) + (x % (1 << r)) * (1 << (32 - r))) % _HLL_M32
    k = _HLL_K[0]
    return ((x % _HLL_M16) * k + ((x // _HLL_M16) * k % _HLL_M16) * _HLL_M16) % _HLL_M32


def hll_registers(
    df: DataFrame, key_col: str, group_cols: tuple[str, ...] = ("source",),
    seed: int = 1,
) -> DataFrame:
    """(group..., bucket, reg) — max-rho register table, ≤ m rows/group.

    JVM-side arithmetic: the mixer folds over chained selects (bounded
    expression text, see module comment), bucket = the 6 HIGH bits, rho =
    27 - bit_length of the low 26 via the same generated CASE chain the
    oracle runs (``bitlen_case_sql``). Everything is non-negative so the
    divide/modulo splits are floor-exact in both engines.
    """
    staged = df.select(*group_cols, F.col(key_col).cast("long").alias("x"))
    for step in hll_mix_steps(seed=seed, div="DIV"):
        staged = staged.select(*group_cols, F.expr(step).cast("long").alias("x"))
    split = staged.select(
        *group_cols,
        F.expr(f"x DIV {1 << _HLL_VBITS}").cast("int").alias("bucket"),
        F.expr(f"x % {1 << _HLL_VBITS}").alias("__v"),
    )
    rho = F.lit(_HLL_VBITS + 1) - F.expr(bitlen_case_sql("__v"))
    out = split.select(*group_cols, "bucket", rho.cast("int").alias("rho"))
    return out.groupBy(*group_cols, "bucket").agg(F.max("rho").alias("reg"))


def hll_estimate(
    regs: DataFrame, group_cols: tuple[str, ...] = ("source",)
) -> DataFrame:
    """(group..., n_zero, sum_fp, est_raw, est) — fixed-point HLL estimator.

    sum_fp = Σ_m 2^(27-reg) with reg=0 for the (m - present) empty buckets;
    est_raw = floor(alpha_num·m²·2^27 / (alpha_den·sum_fp)); est applies
    the small-range linear-counting correction (est_raw ≤ 2.5·m with empty
    buckets → table lookup m·ln(m/n_zero)), both from integer tables.
    """
    m = HLL_BUCKETS
    per = regs.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("__present"),
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_VBITS + 1} - reg)")
        ).alias("__s_present"),
    )
    sum_fp = (
        F.col("__s_present")
        + (F.lit(m) - F.col("__present")).cast("long") * F.lit(1 << (_HLL_VBITS + 1))
    )
    num = _HLL_ALPHA_NUM * m * m * (1 << (_HLL_VBITS + 1))
    return per.select(
        *group_cols,
        (F.lit(m) - F.col("__present")).cast("int").alias("n_zero"),
        sum_fp.cast("long").alias("sum_fp"),
        F.expr(f"CAST({num} AS BIGINT)").alias("__num"),
    ).select(
        *group_cols,
        "n_zero",
        "sum_fp",
        F.expr(f"__num DIV ({_HLL_ALPHA_DEN} * sum_fp)").alias("est_raw"),
    ).withColumn(
        "est",
        F.expr(
            f"CASE WHEN est_raw <= {_HLL_LC_THRESHOLD} AND n_zero > 0 "
            f"THEN CAST({lc_case_sql('n_zero')} AS BIGINT) ELSE est_raw END"
        ),
    )
