"""End-to-end log pipeline: parse → enrich → route → aggregate.

This is the Spark restatement of the reference's collector config
(filelog receiver → transform/attributes processors → routing connector →
count connector + exporters). Each stage is declarative; the whole chain up
to the aggregation is ONE codegen'd scan stage with no Python on it: the
grok is one JVM ``regexp_extract`` per named group, so Catalyst keeps only
the groups a query reads (the aggregates read ``level`` alone), and both
lookup tables (severity aliases, the enrich dim) are literal maps, so the
plan has no join and no broadcast job. No per-record interpretation
anywhere.

Each stage builds its Column expressions once per JVM
(``functions.exprs.per_jvm``), so building the pipeline again for the next
query or chunk costs the driver a few dozen py4j calls, not hundreds.

Scale design (north rule):
- The enrich dim is a literal map looked up per row (no shuffle of the
  10^12-row fact side, no broadcast build per query; mirrors the
  k8sattributes in-memory lookup,
  `processor/k8sattributesprocessor/processor.go:110-176`). A dim too large
  for a plan constant would go back to a broadcast join, as the streaming
  ``dynamic_enrich`` does for its changing table.
- The only shuffle in the whole plan is the final groupBy, which Catalyst
  executes as partial (map-side) + final aggregation; its key set is tiny
  (route × source × severity), so each map task sends at most one row per
  key and a hot ``source`` (src-hot ≈ 45 %) cannot skew the shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..datamodel import SOURCE_LOOKUP_ROWS, SOURCE_LOOKUP_SCHEMA
from ..functions.exprs import literal_map, per_jvm
from ..functions.hashing import sampler_keep_col
from ..functions.severity import attach_severity
from ..operators.parse import regex_parser, time_parser
from ..operators.router import Route, match_once_col, multicast_col, route_match_once, route_multicast
from ..sources.render import LINE_PATTERN, render_lines, row_idx_col


@per_jvm
def default_routes() -> tuple[Route, ...]:
    """FIXTURES.md §3 — mirrors routingconnector/testdata/config_logs.yaml:
    acme: tier == prod; globex: region == eu AND n_tok > 128; else default."""
    return (
        Route("acme", F.col("tier") == "prod"),
        Route("globex", (F.col("region") == "eu") & (F.col("n_tok") > 128)),
    )


def parse_stage(df: DataFrame) -> DataFrame:
    """render → grok parse → time parse → severity map."""
    lined = render_lines(df, out="line")
    parsed = regex_parser(lined, LINE_PATTERN, parse_from="line", on_error="send")
    # X parses the trailing Z as a real UTC offset → instant is correct in
    # any session timezone (a literal-'Z' pattern would read local time)
    parsed = time_parser(parsed, "ts_str", layout="yyyy-MM-dd'T'HH:mm:ssX", parse_to="ts")
    parsed = attach_severity(parsed, "level")
    return parsed.drop("line")


def enrich_stage(df: DataFrame, spark: SparkSession, lut: list[tuple] | None = None) -> DataFrame:
    """Left lookup on source; a missing key → null enrich columns
    (GetPod-miss analog). ``lut`` holds SOURCE_LOOKUP_SCHEMA rows (default
    SOURCE_LOOKUP_ROWS); of two rows for one source the later wins.

    The table is a literal map in the plan, so the lookup is a map access
    inside the scan's codegen stage: no join, no broadcast job, no shuffle
    of the fact side. The columns come out as a left join ``on="source"``
    orders them: source, the other input columns, then the table's.
    ``spark`` is unused and kept for existing callers."""
    return df.select(*_enrich_cols(tuple(map(tuple, SOURCE_LOOKUP_ROWS if lut is None else lut))))


@per_jvm
def _enrich_cols(rows: tuple[tuple, ...]) -> tuple[Column, ...]:
    table = {r[0]: r[1:] for r in rows}
    source = F.col("source")
    looked_up = [
        literal_map(list(table), [v[i] for v in table.values()], f.dataType)[source].alias(f.name)
        for i, f in enumerate(SOURCE_LOOKUP_SCHEMA.fields[1:])
    ]
    # every input column but source, in input order (a regex over names)
    rest = SparkSession.active().range(0).colRegex("`(?!source$).+`")
    return (source, rest, *looked_up)


def sample_stage(df: DataFrame) -> DataFrame:
    """Per-source deterministic sampling (sample_pct from the enrich dim;
    null → 100%). Key is the numeric doc index so DuckDB oracles can
    reproduce the decision exactly."""
    return df.filter(_sample_keep())


@per_jvm
def _sample_keep() -> Column:
    return sampler_keep_col(
        row_idx_col(F.col("doc_id")), F.coalesce(F.col("sample_pct"), F.lit(100.0))
    )


def route_stage(
    df: DataFrame, match_once: bool = True, routes: list[Route] | None = None
) -> DataFrame:
    if routes is None:
        return df.withColumn("route", _default_route_col(match_once))
    return route_match_once(df, routes) if match_once else route_multicast(df, routes)


@per_jvm
def _default_route_col(match_once: bool) -> Column:
    routes = list(default_routes())
    return match_once_col(routes) if match_once else multicast_col(routes)


def aggregate_stage(df: DataFrame) -> DataFrame:
    """Per-sink counts + token totals (count connector + BASELINE metric)."""
    dims, aggs = _aggregate_cols()
    return df.groupBy(*dims).agg(*aggs)


@per_jvm
def _aggregate_cols() -> tuple[tuple[Column, ...], tuple[Column, ...]]:
    dims = tuple(F.col(c) for c in ("route", "source", "severity_text"))
    aggs = (
        F.count(F.lit(1)).alias("row_count"),
        F.sum("n_tok").cast("long").alias("token_count"),
    )
    return dims, aggs


def full_pipeline(
    tokens: DataFrame,
    spark: SparkSession,
    match_once: bool = True,
    with_sampling: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Returns (routed_rows, per_sink_aggregates)."""
    parsed = parse_stage(tokens)
    enriched = enrich_stage(parsed, spark)
    if with_sampling:
        enriched = sample_stage(enriched)
    routed = route_stage(enriched, match_once=match_once)
    aggs = aggregate_stage(routed)
    return routed, aggs
