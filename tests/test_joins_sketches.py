"""Range join (bin-bucketed) and count-min sketch."""

from pyspark.sql import Row
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.operators.joins import range_join
from opentelemetry_collector_contrib_spark.operators.sketches import (
    cms_build,
    cms_estimate,
)


def _pts(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate([0, 99, 100, 250, 999, 1000, 5000])],
        "pid long, ts long",
    )


def _ivs(spark):
    return spark.createDataFrame(
        [
            (1, 0, 100),      # [0, 100): catches 0, 99 — not 100
            (2, 100, 101),    # single-second window
            (3, 90, 1200),    # spans many bins
            (4, 500, 500),    # empty interval -> nothing
        ],
        "iv long, start long, end long",
    )


def test_range_join_semantics_and_boundaries(spark):
    got = {
        (r.pid, r.iv)
        for r in range_join(_pts(spark), _ivs(spark), "ts", "start", "end", 64).collect()
    }
    want = {(p, i) for p, t in [(0, 0), (1, 99), (2, 100), (3, 250), (4, 999), (5, 1000), (6, 5000)]
            for i, s, e in [(1, 0, 100), (2, 100, 101), (3, 90, 1200)] if s <= t < e}
    assert got == want
    # exactly-once: no (point, interval) duplicates even across bins
    rows = range_join(_pts(spark), _ivs(spark), "ts", "start", "end", 7).collect()
    assert len(rows) == len({(r.pid, r.iv) for r in rows}) == len(want)


def test_range_join_left_keeps_unmatched(spark):
    out = range_join(_pts(spark), _ivs(spark), "ts", "start", "end", 64, how="left")
    rows = out.collect()
    unmatched = [r for r in rows if r.iv is None]
    assert {r.pid for r in unmatched} == {6}  # ts=5000 is in no window


def test_range_join_plan_is_equi_join(spark):
    plan = (
        range_join(_pts(spark), _ivs(spark), "ts", "start", "end", 64)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_mix32_python_replica_matches_column(spark):
    from opentelemetry_collector_contrib_spark.functions.hashing import mix32_col, mix32_py

    keys = [0, 1, 97, 65535, 65536, 4294967295, 1234567890]
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    got = {r.k: r.m for r in df.select("k", mix32_col(F.col("k"), seed=3).alias("m")).collect()}
    assert got == {k: mix32_py(k % (1 << 32), 3) for k in keys}


def test_cms_overestimates_and_replays(spark):
    import collections

    from opentelemetry_collector_contrib_spark.functions.hashing import mix32_py

    stream_vals = [i % 37 for i in range(500)] + [7] * 50 + [11] * 200
    stream = spark.createDataFrame([(v,) for v in stream_vals], "token int")
    depth, width = 3, 64  # tiny sketch -> collisions guaranteed
    sketch = cms_build(stream, "token", depth=depth, width=width)
    srows = sketch.collect()
    assert len(srows) <= depth * width
    # python replica of the sketch and estimates
    counters = collections.Counter()
    for v in stream_vals:
        for r in range(depth):
            counters[(r, mix32_py(v, r + 1) % width)] += 1
    assert {(r.r, r.bucket): r.cnt for r in srows} == dict(counters)

    keys = spark.createDataFrame([(t,) for t in range(40)], "token int")
    est = {r.token: r.est for r in cms_estimate(keys, sketch, "token", depth, width).collect()}
    true = collections.Counter(stream_vals)
    for t in range(40):
        want = min(counters[(r, mix32_py(t, r + 1) % width)] for r in range(depth))
        assert est[t] == want
        assert est[t] >= true[t]
    # the heavy hitter dominates its buckets
    assert est[11] >= 200


def test_hll_registers_match_python_replica(spark):
    from opentelemetry_collector_contrib_spark.operators.sketches import (
        HLL_BUCKETS,
        hll_estimate,
        hll_mix_py,
        hll_registers,
    )

    vals = [(i * 37) % 500 for i in range(3000)] + [9999] * 50
    df = spark.createDataFrame(
        [(("g%d" % (v % 3)), v) for v in vals], "source string, token int"
    ).repartition(8)
    regs = hll_registers(df, "token", group_cols=("source",))
    got = {(r.source, r.bucket): r.reg for r in regs.collect()}

    want = {}
    for v in vals:
        g = "g%d" % (v % 3)
        h = hll_mix_py(v, 1)
        b, val = h // (1 << 26), h % (1 << 26)
        rho = 27 - val.bit_length()
        k = (g, b)
        want[k] = max(want.get(k, 0), rho)
    assert got == want

    # fixed-point estimator replica + sane accuracy for m=64 (~13% typical)
    import math

    est_rows = {r.source: r for r in hll_estimate(regs).collect()}
    for g in ("g0", "g1", "g2"):
        s = sum(1 << (27 - want.get((g, b), 0)) for b in range(HLL_BUCKETS))
        n_zero = sum(1 for b in range(HLL_BUCKETS) if (g, b) not in want)
        est_raw = (709 * 64 * 64 * (1 << 27)) // (1000 * s)
        est = est_raw
        if est_raw <= 160 and n_zero > 0:
            est = round(64 * math.log(64 / n_zero))
        assert est_rows[g].sum_fp == s
        assert est_rows[g].n_zero == n_zero
        assert est_rows[g].est_raw == est_raw
        assert est_rows[g].est == est
        true = len({v for v in vals if v % 3 == (int(g[1]))})
        assert abs(est - true) / true < 0.40


def test_hll_partition_invariance(spark):
    from opentelemetry_collector_contrib_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )

    df = spark.createDataFrame([("s", i) for i in range(2000)], "source string, token long")
    a = hll_estimate(hll_registers(df.coalesce(1), "token")).collect()[0]
    b = hll_estimate(hll_registers(df.repartition(16), "token")).collect()[0]
    assert (a.sum_fp, a.est, a.est_raw, a.n_zero) == (
        b.sum_fp, b.est, b.est_raw, b.n_zero
    )
