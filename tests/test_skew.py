"""Skew handling: AQE skew-join splitting and a salted repartition.

North-rule requirement: hot-source skew handled explicitly. The enrich dim
normally broadcasts (no skew exposure); this test forces the sort-merge
path with a big dim to show AQE splits the skewed partitions, and shows
that a salted repartition spreads a hot key over several partitions.
"""

import pytest
from pyspark.sql import functions as F

# force the non-broadcast path and make AQE treat tiny test data as skewed
# so the mechanism is observable at test scale
_SKEW_CONF = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1KB",
}


@pytest.fixture(scope="module")
def skew_spark(spark):
    """Set skew confs on the shared session and restore afterwards —
    creating/stopping a second session would kill the process-wide
    SparkContext for every later test module."""
    saved = {}
    for k, v in _SKEW_CONF.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    yield spark
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_aqe_splits_skewed_join(skew_spark):
    spark = skew_spark
    # fact: 50k rows, 90% on one hot key
    fact = spark.range(50000).select(
        F.when(F.col("id") % 10 < 9, "hot").otherwise(
            F.concat(F.lit("cold"), (F.pmod(F.col("id"), F.lit(99)) + 1).cast("string"))
        ).alias("k"),
        F.col("id").alias("v"),
    )
    dim = spark.range(100).select(
        F.when(F.col("id") == 0, "hot").otherwise(
            F.concat(F.lit("cold"), F.col("id").cast("string"))
        ).alias("k"),
        F.col("id").alias("attr"),
    )

    joined = fact.join(dim, "k")
    rows = joined.collect()  # executes THIS plan → AQE finalizes it
    assert len(rows) == 50000

    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "SortMergeJoin" in plan  # broadcast disabled → skew-exposed path
    # AQE marks split skewed partitions in the final plan
    assert "skew=true" in plan, plan[:2000]


def test_salted_repartition_spreads_hot_key(skew_spark):
    spark = skew_spark
    df = spark.range(20000).select(
        F.when(F.col("id") % 10 < 9, "hot").otherwise("cold").alias("k"),
        F.col("id").alias("v"),
    )
    salted = df.repartition(8, F.col("k"), F.pmod(F.col("v"), F.lit(8)))
    sizes = (
        salted.withColumn("p", F.spark_partition_id())
        .groupBy("p").count().collect()
    )
    counts = [r["count"] for r in sizes]
    # unsalted: hot key in ONE partition (18k rows); salted: spread out
    assert max(counts) < 18000
    assert len(counts) >= 4
