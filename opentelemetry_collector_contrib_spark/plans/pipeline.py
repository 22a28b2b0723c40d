"""End-to-end log pipeline: parse → enrich → route → aggregate.

This is the Spark restatement of the reference's collector config
(filelog receiver → transform/attributes processors → routing connector →
count connector + exporters). Each stage is declarative; the whole chain up
to the aggregation is ONE codegen'd scan stage with no Python on it: the
grok is one JVM ``regexp_extract`` per named group, so Catalyst keeps only
the groups a query reads (the aggregates read ``level`` alone), and both
lookup tables are local relations, whose broadcast builds run no Python
worker either. No per-record interpretation anywhere.

Scale design (north rule):
- The enrich dim is broadcast (BroadcastHashJoin — no shuffle of the 10^12-row
  fact side; mirrors the k8sattributes in-memory lookup,
  `processor/k8sattributesprocessor/processor.go:110-176`).
- The only shuffle in the whole plan is the final groupBy, which Catalyst
  executes as partial (map-side) + final aggregation; its key set is tiny
  (route × source × severity) so the shuffle carries pre-aggregated rows.
- Hot ``source`` keys (src-hot ≈ 45 %) would skew that shuffle; the
  aggregate therefore supports two-phase salting: groupBy(salt, dims) →
  groupBy(dims), turning one hot reducer into ``salt_buckets`` parallel ones.
  AQE skew-join handling covers the join side if the dim ever exceeds
  broadcast size.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..datamodel import SOURCE_LOOKUP_ROWS, SOURCE_LOOKUP_SCHEMA, local_frame
from ..operators.parse import regex_parser, time_parser
from ..operators.router import Route, route_match_once, route_multicast
from ..operators.sampler import probabilistic_sample
from ..functions.severity import attach_severity
from ..sources.render import LINE_PATTERN, render_lines, row_idx_col


def source_lookup_df(spark: SparkSession) -> DataFrame:
    return local_frame(spark, SOURCE_LOOKUP_ROWS, SOURCE_LOOKUP_SCHEMA)


def default_routes() -> list[Route]:
    """FIXTURES.md §3 — mirrors routingconnector/testdata/config_logs.yaml:
    acme: tier == prod; globex: region == eu AND n_tok > 128; else default."""
    return [
        Route("acme", F.col("tier") == "prod"),
        Route("globex", (F.col("region") == "eu") & (F.col("n_tok") > 128)),
    ]


def parse_stage(df: DataFrame) -> DataFrame:
    """render → grok parse → time parse → severity map."""
    lined = render_lines(df, out="line")
    parsed = regex_parser(lined, LINE_PATTERN, parse_from="line", on_error="send")
    # X parses the trailing Z as a real UTC offset → instant is correct in
    # any session timezone (a literal-'Z' pattern would read local time)
    parsed = time_parser(parsed, "ts_str", layout="yyyy-MM-dd'T'HH:mm:ssX", parse_to="ts")
    parsed = attach_severity(parsed, "level")
    return parsed.drop("line")


def enrich_stage(df: DataFrame, spark: SparkSession, lut: DataFrame | None = None) -> DataFrame:
    """Broadcast left join on source; missing key → null enrich columns
    (GetPod-miss analog). No shuffle of the fact side."""
    lut = lut if lut is not None else source_lookup_df(spark)
    return df.join(F.broadcast(lut), on="source", how="left")


def sample_stage(df: DataFrame) -> DataFrame:
    """Per-source deterministic sampling (sample_pct from the enrich dim;
    null → 100%). Key is the numeric doc index so DuckDB oracles can
    reproduce the decision exactly."""
    return probabilistic_sample(
        df,
        key=row_idx_col(F.col("doc_id")),
        pct=F.coalesce(F.col("sample_pct"), F.lit(100.0)),
    )


def route_stage(
    df: DataFrame, match_once: bool = True, routes: list[Route] | None = None
) -> DataFrame:
    routes = routes if routes is not None else default_routes()
    return route_match_once(df, routes) if match_once else route_multicast(df, routes)


def aggregate_stage(df: DataFrame, salt_buckets: int = 0) -> DataFrame:
    """Per-sink counts + token totals (count connector + BASELINE metric).

    salt_buckets > 0 → two-phase aggregation: a deterministic salt spreads
    the hot source key across N reducers, then a second (tiny) aggregation
    merges the partials. With AQE this matters once per-key partial rows
    exceed a single reducer's budget (10^12-row scale), not at test scale.
    """
    dims = ["route", "source", "severity_text"]
    if salt_buckets > 0:
        salt = (row_idx_col(F.col("doc_id")) % salt_buckets).alias("__salt")
        partial = (
            df.groupBy(salt, *dims)
            .agg(
                F.count(F.lit(1)).alias("__rc"),
                F.sum("n_tok").alias("__tc"),
            )
        )
        return (
            partial.groupBy(*dims)
            .agg(
                F.sum("__rc").cast("long").alias("row_count"),
                F.sum("__tc").cast("long").alias("token_count"),
            )
        )
    return df.groupBy(*dims).agg(
        F.count(F.lit(1)).alias("row_count"),
        F.sum("n_tok").cast("long").alias("token_count"),
    )


def full_pipeline(
    tokens: DataFrame,
    spark: SparkSession,
    match_once: bool = True,
    with_sampling: bool = False,
    salt_buckets: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """Returns (routed_rows, per_sink_aggregates)."""
    parsed = parse_stage(tokens)
    enriched = enrich_stage(parsed, spark)
    if with_sampling:
        enriched = sample_stage(enriched)
    routed = route_stage(enriched, match_once=match_once)
    aggs = aggregate_stage(routed, salt_buckets=salt_buckets)
    return routed, aggs
