"""Routing connector — `connector/routingconnector/logs.go:62-119`.

Reference semantics: an ordered route table, each entry an OTTL condition;
``match_once=true`` → first matching route wins; ``match_once=false`` →
multicast, a COPY of the row goes to every matching route; no match → the
default route; each route's group is delivered to a separate sink pipeline.

Spark restatement (SURVEY §3.3):
- match_once  → one scalar column via lazy ``coalesce(when-chain)`` — no row
  multiplication, no shuffle; routing is free inside the scan's codegen stage.
- multicast   → build the array of matched route names, ``explode`` it —
  row-multiplying, exactly like the reference's per-route copies.

Sinks are per-route writes; ``write_routed`` uses a single
``partitionBy("route")`` pass so the fan-out costs ONE job, not one scan per
route (the reference flushes each consumer group separately; at 100 TB one
pass with dynamic partition overwrite is the only sane physical plan).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_ROUTE = "default"


@dataclass
class Route:
    name: str
    condition: Column  # compiled OTTL condition (ottl/compiler.py) or any Column


def routes_from_ottl(table: list[tuple[str, str]]) -> list["Route"]:
    """Build the route list from OTTL route statements, exactly the
    routingconnector config shape (`config.go:22-66`, statements like
    ``route() where attributes["tier"] == "prod"``). The ``route()`` editor
    is a noop marker (`internal/common/functions.go:13-28`); only the where
    clause routes."""
    from ..ottl.parser import parse_statement
    from ..ottl.compiler import Compiler

    c = Compiler()
    out = []
    for name, stmt_text in table:
        stmt = parse_statement(stmt_text)
        if stmt.editor.name != "route":
            raise ValueError(
                f"route table statements must use the route() editor, got {stmt.editor.name!r}"
            )
        cond = c.condition(stmt.condition) if stmt.condition is not None else None
        if cond is None:
            raise ValueError("route() requires a where clause")
        out.append(Route(name, cond))
    return out


def route_match_once(
    df: DataFrame,
    routes: list[Route],
    out: str = "route",
    default_route: str | None = DEFAULT_ROUTE,
) -> DataFrame:
    """First-match-wins scalar route tag (`logs.go:87-89` match_once break).

    default_route=None mirrors the reference with no `default_pipelines`
    configured (`connector/routingconnector/logs.go:95-98`): unmatched rows
    are DROPPED instead of tagged — here a plain filter, so Catalyst pushes
    it into the scan."""
    tagged = df.withColumn(out, match_once_col(routes, default_route))
    if default_route is None:
        tagged = tagged.filter(F.col(out).isNotNull())
    return tagged


def route_multicast(
    df: DataFrame,
    routes: list[Route],
    out: str = "route",
    default_route: str | None = DEFAULT_ROUTE,
) -> DataFrame:
    """Multicast: array of all matching routes (default if none), exploded —
    a row matching k routes appears k times (`logs.go:84-98` copy-per-match).
    default_route=None drops unmatched rows (no default_pipelines,
    `logs.go:95-98`): explode of an empty array emits nothing."""
    return df.withColumn(out, multicast_col(routes, default_route))


def match_once_col(routes: list[Route], default_route: str | None = DEFAULT_ROUTE) -> Column:
    """The name of the first route whose condition holds, else
    ``default_route`` (null when that is None)."""
    expr = None
    for r in routes:
        cond = F.coalesce(r.condition, F.lit(False))
        expr = F.when(cond, r.name) if expr is None else expr.when(cond, r.name)
    if expr is None:
        return F.lit(default_route) if default_route is not None else F.lit(None).cast("string")
    return expr.otherwise(F.lit(default_route)) if default_route is not None else expr


def multicast_col(routes: list[Route], default_route: str | None = DEFAULT_ROUTE) -> Column:
    """One output row per route whose condition holds (``explode``), or
    one ``default_route`` row when none does (none when that is None)."""
    matched = F.filter(
        F.array(
            *[
                F.when(F.coalesce(r.condition, F.lit(False)), r.name)
                for r in routes
            ]
        ),
        lambda x: x.isNotNull(),
    )
    if default_route is not None:
        arr = F.when(F.size(matched) > 0, matched).otherwise(
            F.array(F.lit(default_route))
        )
    else:
        arr = matched
    return F.explode(arr)


def lakehouse_format(spark) -> str:
    """'iceberg' when the Iceberg Spark runtime is on the classpath, else
    'parquet'. The north rule's sink surface is per-route Iceberg tables;
    this sandbox ships no Iceberg jars, so the honest behavior is detect →
    fall back, not pretend. On a real cluster add
    `--packages org.apache.iceberg:iceberg-spark-runtime-...` and a catalog
    conf, and every write_routed(fmt='auto') call upgrades in place."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return "iceberg"
    except Exception:
        return "parquet"


def write_routed(df: DataFrame, path: str, fmt: str = "parquet") -> None:
    """One write job fans out to per-route directories (Iceberg-table analog;
    `partitionBy` plays `exporter/fileexporter` group_by —
    grouping_file_exporter.go — and pkg/batchperresourceattr).

    The write runs in the scan's own tasks, with no repartition: each task
    writes one file per route it holds, so a hot route spreads over every
    task that read it. An existing output at ``path`` is overwritten."""
    if fmt == "auto":
        fmt = lakehouse_format(df.sparkSession)
    df.write.format(fmt).mode("overwrite").partitionBy("route").save(path)
