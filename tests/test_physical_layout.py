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


def test_exact_dedup_shuffles_ids_only(spark):
    """exact_dedup's wide shuffle must carry (hash, id) — not the payload.
    Verified structurally: every Exchange hashpartitioning in the plan keys
    on the internal hash columns or the id, and the window sort runs over
    the projected pair (the payload-bearing scan feeds only the final
    anti-join)."""
    from opentelemetry_collector_contrib_spark.operators.dedup import exact_dedup

    t = tokens_df(spark, 5000, num_partitions=4)
    out = exact_dedup(t, ["tokens"], "doc_id", method="xxhash128")
    plan = _executed_plan(out)
    assert "BroadcastNestedLoopJoin" not in plan
    # the row_number window input must be the 3-column projection, so the
    # sorter never sees the tokens payload
    window_seg = plan.split("Window", 1)[1] if "Window" in plan else plan
    sort_line = next(
        (l for l in window_seg.splitlines() if "Sort [" in l), ""
    )
    assert "tokens" not in sort_line, sort_line


def test_write_routed_salt_is_deterministic(spark, tmp_path):
    """Two writes of the same input produce the same row→file grouping:
    the fan-out salt hashes stable row content, so a stage retry (or a
    rerun) deals rows identically (VERDICT r01 #5 — a
    monotonically_increasing_id salt re-deals on recompute)."""
    from opentelemetry_collector_contrib_spark.plans.pipeline import full_pipeline
    from opentelemetry_collector_contrib_spark.operators.router import write_routed

    routed, _ = full_pipeline(tokens_df(spark, 4000, num_partitions=4), spark)

    def file_groups(path):
        write_routed(routed, path, files_per_route=3)
        df = spark.read.parquet(path).withColumn(
            "f", F.input_file_name()
        )
        per_file = (
            df.groupBy("f")
            .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
            .select("ids")
            .collect()
        )
        return sorted(tuple(r.ids) for r in per_file)

    g1 = file_groups(str(tmp_path / "run1"))
    g2 = file_groups(str(tmp_path / "run2"))
    assert g1 == g2


def test_lsh_pair_path_single_exchange(spark):
    """Round-3 invariant: LSH candidate generation exchanges the exploded
    (id, band, sig) set EXACTLY once (groupBy bucket → local pairwise
    explode). The r02 self-join form shuffled it twice and recomputed the
    signature per side; freeze the fixed shape."""
    from opentelemetry_collector_contrib_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signature,
    )

    t = tokens_df(spark, 3000, num_partitions=4).select("doc_id", "tokens")
    sig = minhash_signature(t, "tokens", num_perms=8)
    pairs = lsh_candidate_pairs(sig, "doc_id", 8, 4, dedup=False)
    plan = _executed_plan(pairs)
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"pair path plans {n_exchanges} exchanges:\n{plan[:2000]}"
    # dedup=True adds exactly the one distinct exchange, nothing more
    plan2 = _executed_plan(lsh_candidate_pairs(sig, "doc_id", 8, 4, dedup=True))
    assert plan2.count("Exchange hashpartitioning") == 2, plan2[:2000]


def test_minhash_signature_engines_agree(spark):
    """The Arrow LUT kernel and the JVM higher-order form are bit-identical,
    including out-of-vocab values (mod-formula fallback branch) and
    empty/null token arrays."""
    from pyspark.sql import types as T

    from opentelemetry_collector_contrib_spark.operators.dedup import (
        VOCAB,
        minhash_signature,
    )

    sch = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("tokens", T.ArrayType(T.IntegerType())),
        ]
    )
    rows = [
        (0, [0, 1, 2, VOCAB - 1]),
        (1, []),
        (2, None),
        (3, [7]),
        (4, [123456789, 5]),  # out-of-vocab → mod fallback
        (5, list(range(200))),
        (6, [-3, -2147483648, 9]),  # negative tokens: Java-% vs numpy-%
    ]
    df = spark.createDataFrame(rows, sch)
    cols = [f"mh{i}" for i in range(8)]
    a = {r.doc_id: tuple(r[c] for c in cols)
         for r in minhash_signature(df, "tokens", 8, engine="arrow").collect()}
    j = {r.doc_id: tuple(r[c] for c in cols)
         for r in minhash_signature(df, "tokens", 8, engine="jvm").collect()}
    assert a == j
    assert a[1] == (None,) * 8 and a[2] == (None,) * 8


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


def test_pack_and_shuffle_single_exchange(spark):
    """Round-3 invariant (VERDICT r03 next-round #8): sequence packing and
    the deterministic global shuffle each move data EXACTLY once — the
    doc-offset window and the chunk groupBy reuse one hash partitioning;
    the shard window reuses the shard exchange."""
    from opentelemetry_collector_contrib_spark.operators.packing import (
        deterministic_shuffle,
        pack_sequences,
    )

    t = tokens_df(spark, 2000, num_partitions=4)
    packed = pack_sequences(t, "source", "doc_id", "tokens", seq_len=64)
    plan = _executed_plan(packed)
    n = plan.count("Exchange hashpartitioning")
    assert n == 1, f"pack_sequences plans {n} exchanges:\n{plan[:2000]}"

    shuffled = deterministic_shuffle(t, F.col("doc_id"), 8, seed=3)
    plan2 = _executed_plan(shuffled)
    n2 = plan2.count("Exchange hashpartitioning")
    assert n2 == 1, f"deterministic_shuffle plans {n2} exchanges:\n{plan2[:2000]}"


def test_curate_corpus_shuffle_budget(spark):
    """The end-to-end curation chain (dedup → quality gate → mixture →
    det-shuffle) composes into ONE plan whose only exchanges are the
    (hash,id) dedup projection and the final shard exchange — ≤2 total.
    At 100 TB these are the only two movements of the corpus."""
    from opentelemetry_collector_contrib_spark.plans.curate import curate_corpus
    from opentelemetry_collector_contrib_spark.sources.render import row_idx_col

    t = tokens_df(spark, 2000, num_partitions=4).select(
        row_idx_col(F.col("doc_id")).alias("doc_id"),
        "tokens",
        F.concat(F.lit("src"), F.pmod(F.xxhash64("doc_id"), F.lit(4))).alias("source"),
    )
    out = curate_corpus(
        t, "doc_id", "tokens", "source",
        {"src0": 0.3, "src1": 0.25, "src2": 0.25, "src3": 0.2},
        target_total=200, num_shards=4, seed=7,
    )
    plan = _executed_plan(out)
    n = plan.count("Exchange hashpartitioning")
    assert n <= 2, f"curate_corpus plans {n} exchanges:\n{plan[:3000]}"


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


def test_kmeans_plan_shapes(spark):
    """Distributed k-means plan audit: the per-iteration update is ONE
    exchange of k rows x (dim+1) longs (map-side partial agg over cells);
    the assignment is pure codegen — zero Python nodes, zero joins, zero
    exchanges (the k score expressions are compile-time literals)."""
    from opentelemetry_collector_contrib_spark.operators.similarity import (
        _quantize,
        kmeans_train_quantized,
    )

    df = spark.createDataFrame(
        [(i, [((i * 3 + d) % 7 - 3) / 4.0 for d in range(4)]) for i in range(200)],
        "vec_id long, embedding array<float>",
    ).repartition(8)

    assignments, cents = kmeans_train_quantized(df, k=4, iters=1, dim=4)
    plan = _executed_plan(assignments)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Join" not in plan, plan[:2000]
    assert "Exchange hashpartitioning" not in plan, plan[:2000]

    # the update aggregation (the trainer's in-loop form): one exchange only
    qdf = df.select("vec_id", _quantize(F.col("embedding")).alias("__qe"))
    one = qdf.withColumn("cell", F.lit(0)).groupBy("cell").agg(
        F.count(F.lit(1)).alias("cnt"), *[F.sum(F.col("__qe")[d]) for d in range(4)]
    )
    plan2 = _executed_plan(one)
    assert plan2.count("Exchange hashpartitioning") == 1, plan2[:2000]
    assert "ArrowEvalPython" not in plan2 and "BatchEvalPython" not in plan2


def test_source_overlap_single_corpus_exchange(spark):
    """source_overlap's heavy stage (source_pair_counts) plans exactly two
    exchanges — the corpus-scale groupBy(shingle) and the
    |sources|²-bounded pair rollup; the final assembly reads that stage
    from its eager localCheckpoint (materialized RDD scans, no re-planned
    exchanges at all) and joins sizes by broadcast. No self-join of
    corpus-size sides, no Python nodes."""
    from opentelemetry_collector_contrib_spark.operators.dedup import (
        source_overlap,
        source_pair_counts,
    )

    df = spark.createDataFrame(
        [(i, "s%d" % (i % 4), [(i + d) % 50 for d in range(12)]) for i in range(400)],
        "doc_id long, source string, tokens array<int>",
    ).repartition(8)
    stage = source_pair_counts(df, "source", "tokens", 3)
    plan = _executed_plan(stage)
    assert plan.count("Exchange hashpartitioning") == 2, plan[:3000]
    assert "Join" not in plan, plan[:3000]
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

    out = source_overlap(df, "source", "tokens", 3)
    full = _executed_plan(out)
    assert "Exchange hashpartitioning" not in full, full[:3000]
    assert full.count("BroadcastHashJoin") == 2, full[:3000]
    assert "SortMergeJoin" not in full and "BroadcastNestedLoopJoin" not in full


def test_winnow_pairs_plan_is_equi_join(spark):
    """Winnowing candidate pairs join the inverted index on fingerprint id
    (shuffle-hash equi-join) — never all-pairs, never sort-merge. The
    fingerprint selection is the Arrow-batched numpy kernel (ArrowEval
    nodes allowed; row-at-a-time BatchEvalPython never); the jvm
    expression engine plans with zero Python nodes."""
    from opentelemetry_collector_contrib_spark.operators.dedup import winnow_pairs

    df = spark.createDataFrame(
        [(i, [(i * 13 + d) % 40 for d in range(20)]) for i in range(300)],
        "doc_id long, tokens array<int>",
    ).repartition(8)
    out = winnow_pairs(df, "doc_id", "tokens", 3, 4)
    plan = _executed_plan(out)
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert "BatchEvalPython" not in plan

    plan_jvm = _executed_plan(winnow_pairs(df, "doc_id", "tokens", 3, 4, engine="jvm"))
    assert "ArrowEvalPython" not in plan_jvm and "BatchEvalPython" not in plan_jvm
    assert "SortMergeJoin" not in plan_jvm
