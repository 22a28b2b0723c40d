"""Physical-layout evidence: bucketed co-located joins and partition pruning
— the storage-layout levers the 100 TB deployment depends on (SURVEY §4)."""

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.sources.tokengen import tokens_df


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Two tables bucketed by the join key join WITHOUT an Exchange —
    the co-located join strategy for repeated big-big joins (e.g. tokens ⋈
    per-doc metadata at corpus scale)."""
    t = tokens_df(spark, 2000, num_partitions=4)
    meta = t.select("doc_id", F.size("tokens").alias("len0"))

    (
        t.write.mode("overwrite").bucketBy(8, "doc_id").sortBy("doc_id")
        .saveAsTable("tok_bucketed")
    )
    (
        meta.write.mode("overwrite").bucketBy(8, "doc_id").sortBy("doc_id")
        .saveAsTable("meta_bucketed")
    )
    a = spark.table("tok_bucketed")
    b = spark.table("meta_bucketed")
    joined = a.join(b, "doc_id")
    assert joined.count() == 2000
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan[:1500]

    # contrast: the same join on plain parquet DOES shuffle (or broadcasts)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        t.write.mode("overwrite").parquet(str(tmp_path / "plain"))
        p = spark.read.parquet(str(tmp_path / "plain"))
        j2 = p.join(p.select("doc_id", F.col("n_tok").alias("x")), "doc_id")
        j2.count()
        plan2 = j2._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" in plan2
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS tok_bucketed")
        spark.sql("DROP TABLE IF EXISTS meta_bucketed")


def test_partition_pruning_on_route_sinks(spark, tmp_path):
    """Reading one route from the per-route sink only scans that partition
    (PartitionFilters in the scan — the reason sinks partition by route)."""
    from opentelemetry_collector_contrib_spark.plans.pipeline import full_pipeline
    from opentelemetry_collector_contrib_spark.operators.router import write_routed

    routed, _ = full_pipeline(tokens_df(spark, 2000, num_partitions=4), spark)
    out = str(tmp_path / "sinks")
    write_routed(routed, out)

    df = spark.read.parquet(out).filter(F.col("route") == "acme")
    n_acme = df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the route predicate lands in PartitionFilters (directory-level prune),
    # not in DataFilters (row-level)
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "route" in pf and "acme" in pf, pf
    total = spark.read.parquet(out).count()
    assert 0 < n_acme < total


def _executed_plan(df) -> str:
    df.count()
    return df._jdf.queryExecution().executedPlan().toString()


def test_pipeline_hot_path_runs_no_python(spark, tmp_path):
    """The aggregates' plan holds no Python-eval node and keeps only the
    grok group it reads (level); the routed rows keep all seven. The
    severity and enrich lookups are literal maps, so neither frame plans a
    join or a broadcast."""
    from opentelemetry_collector_contrib_spark.plans.pipeline import full_pipeline

    path = str(tmp_path / "tokens")
    tokens_df(spark, 2000, num_partitions=4).write.parquet(path)
    routed, aggs = full_pipeline(spark.read.parquet(path), spark)
    agg_plan = _executed_plan(aggs)
    for node in ("ArrowEvalPython", "BatchEvalPython"):
        assert node not in agg_plan, agg_plan
    assert agg_plan.count("regexp_extract(") == 1, agg_plan
    routed_plan = _executed_plan(routed)
    assert routed_plan.count("regexp_extract(") == 7
    for plan in (agg_plan, routed_plan):
        assert "BroadcastExchange" not in plan and "Join" not in plan, plan


def test_warm_pipeline_build_is_cheap_on_py4j(spark, monkeypatch):
    """Once the operators' expressions are built, building full_pipeline
    again crosses py4j at most 200 times (about 900-1300 when every build
    rebuilt them)."""
    from py4j.java_gateway import GatewayClient

    from opentelemetry_collector_contrib_spark.plans.pipeline import full_pipeline

    tokens = tokens_df(spark, 100, num_partitions=1)
    full_pipeline(tokens, spark)
    real, calls = GatewayClient.send_command, []

    def counted(self, *args, **kwargs):
        calls.append(args[0])
        return real(self, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counted)
    full_pipeline(tokens, spark)
    monkeypatch.undo()
    assert len(calls) <= 200, len(calls)


def test_write_routed_auto_format_falls_back(spark, tmp_path):
    """fmt='auto' detects the Iceberg runtime; without the jars it must
    fall back to parquet (honest sink surface, north rule) and still write
    per-route directories."""
    from opentelemetry_collector_contrib_spark.operators.router import (
        lakehouse_format,
        write_routed,
    )

    assert lakehouse_format(spark) == "parquet"  # no Iceberg jars here
    df = spark.createDataFrame(
        [(1, "a", "r1"), (2, "b", "r2")], "id long, v string, route string"
    )
    out = str(tmp_path / "routed_auto")
    write_routed(df, out, fmt="auto")
    back = spark.read.parquet(out)
    assert back.count() == 2
    assert {r.route for r in back.select("route").collect()} == {"r1", "r2"}


def test_tail_sampling_decision_plan(spark):
    """Tail sampling's stateless decision table is ONE exchange (the trace
    groupBy partial agg) with zero Python nodes; tail_sample adds only the
    keep-join of events against the sampled key set."""
    import datetime as dt

    from opentelemetry_collector_contrib_spark.operators import (
        tailsampling as tsamp,
    )

    rows = [
        (i % 50, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i),
         "error" if i % 7 == 0 else "view", float(i % 300))
        for i in range(2000)
    ]
    ev = spark.createDataFrame(
        rows, "trace_key long, ts timestamp, event_type string, value double"
    )
    pol = [
        tsamp.string_attr("nosignup", "event_type", ["signup"], invert=True),
        tsamp.status_code("err", "event_type", ["error"]),
        tsamp.latency("slow", 60_000),
        tsamp.probabilistic("prob", 25.0, seed=7),
    ]
    dec = tsamp.trace_decisions(ev, "trace_key", "ts", pol)
    plan = _executed_plan(dec)
    n = plan.count("Exchange hashpartitioning")
    assert n == 1, f"trace_decisions plans {n} exchanges:\n{plan[:2000]}"
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_hll_plan_two_bounded_exchanges(spark):
    """HLL = register groupBy + estimate groupBy, nothing else: two
    exchanges whose widths are register-bounded (groups x 64), zero
    Python nodes, no joins."""
    from opentelemetry_collector_contrib_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )

    df = spark.createDataFrame(
        [("s%d" % (i % 3), i % 500) for i in range(3000)],
        "source string, token int",
    ).repartition(8)
    est = hll_estimate(hll_registers(df, "token"))
    plan = _executed_plan(est)
    assert plan.count("Exchange hashpartitioning") == 2, plan[:2000]
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Join" not in plan
