"""End-to-end parse→enrich→route→aggregate vs the pure-Python oracle.

Checks the north-rule correctness gates: routed-row SET equality per sink
(plogtest IgnoreLogRecordsOrder analog), per-sink aggregate counts, and
per-row token-array equality.
"""

import pandas as pd
import pytest

from opentelemetry_collector_contrib_spark.plans.pipeline import full_pipeline
from opentelemetry_collector_contrib_spark.sources.tokengen import tokens_df

from oracle import pipeline_oracle

N = 2000


def _routed_sets(df_rows):
    """dict route -> {doc_id}; plus per-doc token arrays."""
    sets: dict[str, set] = {}
    toks = {}
    for r in df_rows:
        sets.setdefault(r["route"], set()).add(r["doc_id"])
        toks[r["doc_id"]] = list(r["tokens"])
    return sets, toks


@pytest.mark.parametrize("match_once", [True, False])
def test_pipeline_matches_oracle(spark, match_once):
    tokens = tokens_df(spark, N, num_partitions=4)
    routed, aggs = full_pipeline(tokens, spark, match_once=match_once)
    got_rows = [r.asDict() for r in routed.collect()]
    got_aggs = {
        (r.route, r.source, r.severity_text): (r.row_count, r.token_count)
        for r in aggs.collect()
    }

    want_routed, want_agg = pipeline_oracle(N, match_once=match_once)

    g_sets, g_toks = _routed_sets(got_rows)
    w_sets, w_toks = _routed_sets(want_routed.to_dict("records"))
    assert g_sets == w_sets  # routed-row set equality per sink
    assert g_toks == w_toks  # per-row token-array equality

    w_aggs = {
        (r.route, r.source, r.severity_text): (r.row_count, r.token_count)
        for r in want_agg.itertuples(index=False)
    }
    assert got_aggs == w_aggs

    if match_once:
        # sinks partition the input exactly
        total = sum(len(s) for s in g_sets.values())
        assert total == N


def test_malformed_passthrough(spark):
    """on_error=send — malformed lines survive with default severity."""
    tokens = tokens_df(spark, N, num_partitions=4)
    routed, _ = full_pipeline(tokens, spark, match_once=True)
    bad = routed.filter("severity_text = 'default'").count()
    want_routed, _ = pipeline_oracle(N, match_once=True)
    want_bad = int((want_routed["severity_text"] == "default").sum())
    assert bad == want_bad
    assert bad > 0  # fixture really exercises the path


def test_sampling_deterministic(spark):
    tokens = tokens_df(spark, N, num_partitions=4)
    r1, _ = full_pipeline(tokens, spark, with_sampling=True)
    r2, _ = full_pipeline(tokens, spark, with_sampling=True)
    ids1 = {r.doc_id for r in r1.select("doc_id").collect()}
    ids2 = {r.doc_id for r in r2.select("doc_id").collect()}
    assert ids1 == ids2
    want_routed, _ = pipeline_oracle(N, with_sampling=True)
    assert ids1 == set(want_routed["doc_id"])
    assert 0 < len(ids1) < N  # sampling actually dropped something


def test_enrich_stage_lookup_rows(spark):
    """enrich_stage over caller rows: the columns come out in left-join
    order (source first, the table's last, nullable), a missing source and
    a null table value read as null, and a source listed twice takes its
    later row."""
    from pyspark.sql import types as T

    from opentelemetry_collector_contrib_spark.plans.pipeline import enrich_stage

    df = spark.createDataFrame(
        [("d1", "a", 1), ("d2", "b", 2), ("d3", "zzz", 3)],
        T.StructType(
            [
                T.StructField("doc_id", T.StringType(), False),
                T.StructField("source", T.StringType(), False),
                T.StructField("n_tok", T.IntegerType(), False),
            ]
        ),
    )
    lut = [
        ("a", "t1", "eu", "prod", 50.0),
        ("b", "t2", "us", "dev", None),
        ("a", "t3", "ap", "dev", 25.0),
    ]
    out = enrich_stage(df, spark, lut=lut)
    assert [(f.name, f.dataType.simpleString(), f.nullable) for f in out.schema.fields] == [
        ("source", "string", False),
        ("doc_id", "string", False),
        ("n_tok", "int", False),
        ("team", "string", True),
        ("region", "string", True),
        ("tier", "string", True),
        ("sample_pct", "double", True),
    ]
    assert sorted(tuple(r) for r in out.collect()) == [
        ("a", "d1", 1, "t3", "ap", "dev", 25.0),
        ("b", "d2", 2, "t2", "us", "dev", None),
        ("zzz", "d3", 3, None, None, None, None),
    ]
