"""statsdreceiver parity — StatsD/DogStatsD line protocol parsed into
datapoint rows, and the per-flush-interval aggregation that turns them
into OTel metric datapoints.

Reference behavior (`receiver/statsdreceiver/internal/protocol/
statsd_parser.go` + `metric_translator.go`):

- line grammar ``<name>:<value>|<type>[|@rate][|#tags][|c:container][|Tsecs]``
  (`statsd_parser.go:352-461`): types c/g/h/ms/d; a leading ``+``/``-``
  on the value marks gauge ADDITION; ``@rate`` is the client sample
  rate; ``#k:v,...`` tags become attributes (value-less tags need
  ``enable_simple_tags``); ``c:<id>`` becomes ``container.id``;
  ``T<secs>`` (DogStatsD v1.3) is only legal on counters and gauges;
  ``enable_metric_type`` appends a ``metric_type`` attribute with the
  type's full name;
- counters aggregate per (addr, name, attrs) as a DELTA sum of
  ``int64(value / rate)`` — Go float→int truncation
  (`metric_translator.go:147-158`); the datapoint keeps the FIRST
  line's ``T`` timestamp when one was set, else the flush time
  (`statsd_parser.go:297-305`, `metric_translator.go:44-51`);
- gauges are last-writer-wins; an addition line adds to the running
  value instead of replacing it, and the FIRST line always establishes
  the gauge even when it is an addition (`statsd_parser.go:282-295`);
- timings/histograms/distributions route by observer: ``gauge`` = one
  gauge datapoint PER LINE; ``summary`` = weighted summary with
  percentiles [0,10,50,90,95,100] where a sampled line carries weight
  1/rate, count = uint64-truncated weight sum, and a quantile is the
  smallest sample value whose cumulative weight reaches p×total (gonum
  ``stat.Quantile(Empirical)``, `metric_translator.go:71-101,165-174`);
  ``disabled`` = dropped (`statsd_parser.go:307-345`);
- the ``histogram`` observer in the reference is a go-expohisto
  auto-rescaling exponential histogram; this rebuild maps it to the
  repo's scale-0 exponential histogram (`operators/metrics.py:
  expo_histogram`) — documented divergence: fixed scale 0, no
  auto-rescale, so bucket boundaries are 2^k (value-exact for the
  count/sum/min/max surface, bucket layout differs from expohisto's
  higher starting scale).

Documented divergence: flush timestamps (`lastIntervalTime`, ``now``)
are wall clock in the reference; here they are the caller's explicit
``start_ns`` / ``now_ns`` parameters (rerun-stable oracles, the repo
invariant). Malformed lines are dropped (the reference's transport
loop counts the error and keeps consuming).

Spark shape: parse is one ``map_records`` pass; counters and
gauges aggregate JVM-side (one exchange on the canonical group key —
the gauge base-line window reuses the same hash partitioning as its
groupBy, so AQE plans a single shuffle); only the weighted-percentile
summary needs ``applyInPandas``. At 100 TB the group-key cardinality
(metric name × attrs) bounds every exchange — metrics are an index,
not data, exactly like the loki label argument.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T

from ..functions.records import map_records

__all__ = ["parse_statsd_line", "statsd_datapoints", "statsd_flush"]

_TYPES = {"c", "g", "h", "ms", "d"}
_FULL_NAME = {
    "c": "counter",
    "g": "gauge",
    "h": "histogram",
    "ms": "timing",
    "d": "distribution",
}
_CONTAINER_ID = "container.id"
_PCTS = (0.0, 10.0, 50.0, 90.0, 95.0, 100.0)


def parse_statsd_line(
    line: str,
    *,
    enable_metric_type: bool = False,
    enable_simple_tags: bool = False,
) -> dict:
    """One statsd line → parsed dict (`statsd_parser.go:352-461`).
    Raises ValueError on every malformed shape the reference rejects."""
    parts = line.split("|")
    if len(parts) < 2:
        raise ValueError(f"invalid message format: {line}")
    sep = parts[0].find(":")
    if sep < 0:
        raise ValueError(f"invalid <name>:<value> format: {parts[0]}")
    name, value_str = parts[0][:sep], parts[0][sep + 1 :]
    if not name:
        raise ValueError("empty metric name")
    if not value_str:
        raise ValueError("empty metric value")
    addition = value_str[0] in "+-"
    metric_type = parts[1]
    if metric_type not in _TYPES:
        raise ValueError(f"unsupported metric type: {metric_type}")

    sample_rate = 0.0
    ts_ns = 0
    attrs: dict[str, str] = {}
    for part in parts[2:]:
        if part.startswith("@"):
            try:
                sample_rate = float(part[1:])
            except ValueError:
                raise ValueError(f"parse sample rate: {part[1:]}") from None
        elif part.startswith("#"):
            if not part[1:]:
                continue  # empty tag set still sent by some clients
            for tag in part[1:].split(","):
                k, _, v = tag.partition(":")
                if not k:
                    raise ValueError(f"invalid tag format: {tag!r}")
                if v == "" and not enable_simple_tags:
                    raise ValueError(f"invalid tag format: {tag!r}")
                attrs[k] = v
        elif part.startswith("c:"):
            if part[2:]:
                attrs[_CONTAINER_ID] = part[2:]
        elif part.startswith("T"):
            if metric_type not in ("c", "g"):
                raise ValueError(
                    "only GAUGE and COUNT metrics support a timestamp"
                )
            ts = part[1:]
            # Go ParseUint: ASCII decimal digits only
            if not ts or not ts.isascii() or not ts.isdigit():
                raise ValueError(f"invalid timestamp: {ts}")
            ts_ns = int(ts) * 1_000_000_000
        else:
            raise ValueError(f"unrecognized message part: {part}")
    try:
        as_float = float(value_str)
    except ValueError:
        raise ValueError(
            f"parse metric value string: {value_str}"
        ) from None
    if enable_metric_type:
        attrs["metric_type"] = _FULL_NAME[metric_type]
    return {
        "name": name,
        "metric_type": metric_type,
        "value": as_float,
        "addition": addition,
        "sample_rate": sample_rate,
        "ts_ns": ts_ns,
        "attrs": attrs,
    }


_DP_SCHEMA = T.StructType(
    [
        T.StructField("line_id", T.LongType()),
        T.StructField("addr", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("metric_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("addition", T.BooleanType()),
        T.StructField("sample_rate", T.DoubleType()),
        T.StructField("ts_ns", T.LongType()),
        T.StructField("attrs", T.MapType(T.StringType(), T.StringType())),
    ]
)


def statsd_datapoints(
    df: DataFrame,
    line_col: str = "line",
    line_id_col: str = "line_id",
    addr_col: str | None = None,
    *,
    enable_metric_type: bool = False,
    enable_simple_tags: bool = False,
) -> DataFrame:
    """Line DataFrame → parsed datapoint rows, zero-shuffle.

    ``line_id_col`` must be a total arrival order per (addr) — the
    reference consumes each socket sequentially, and gauge last-writer
    and counter first-timestamp semantics depend on it. Malformed lines
    are dropped (module docstring)."""
    cols = [df[line_id_col].alias("line_id"), df[line_col].alias("line")]
    cols.append(
        df[addr_col].alias("addr") if addr_col else F.lit("").alias("addr")
    )
    src = df.select(*cols)

    def one(row: dict) -> list[dict]:
        try:
            p = parse_statsd_line(
                row["line"],
                enable_metric_type=enable_metric_type,
                enable_simple_tags=enable_simple_tags,
            )
        except ValueError:
            return []
        p["line_id"] = int(row["line_id"])
        p["addr"] = row["addr"]
        return [p]

    return map_records(src, one, _DP_SCHEMA)


_FLUSH_COLS = [
    "addr", "name", "kind", "attrs", "start_ns", "ts_ns",
    "int_value", "double_value", "count", "sum",
    "q0", "q10", "q50", "q90", "q95", "q100",
]


def _key(df: DataFrame) -> DataFrame:
    """Canonical group key: name + sorted attr entries rendered to one
    string (maps aren't groupable; same trick as metrics_transform)."""
    return df.withColumn(
        "_k",
        F.concat_ws(
            "\x00",
            F.col("addr"),
            F.col("name"),
            F.to_json(F.map_from_entries(F.sort_array(F.map_entries("attrs")))),
        ),
    )


def statsd_flush(
    parsed: DataFrame,
    start_ns: int,
    now_ns: int,
    *,
    timer_observer: str = "summary",
    histogram_observer: str = "disabled",
    is_monotonic: bool = False,
) -> DataFrame:
    """One flush interval's GetMetrics (`statsd_parser.go:196-258`) over
    the parsed batch. Output rows carry ``kind`` ∈ counter / gauge /
    timer_gauge / summary / histogram with the columns that kind fills
    (others null). ``is_monotonic`` only flips exported metadata in the
    reference, so it is accepted-and-ignored here (delta sums either
    way)."""
    if timer_observer not in ("gauge", "summary", "histogram", "disabled"):
        raise ValueError(f"unrecognized observer {timer_observer!r}")
    if histogram_observer not in ("gauge", "summary", "histogram", "disabled"):
        raise ValueError(f"unrecognized observer {histogram_observer!r}")

    keyed = _key(parsed)
    pieces: list[DataFrame] = []

    # ---- counters: delta sum of int64(value/rate), first-line T wins
    ctr = keyed.filter(F.col("metric_type") == "c").withColumn(
        "_cv",
        F.when(
            (F.col("sample_rate") > 0) & (F.col("sample_rate") < 1),
            F.col("value") / F.col("sample_rate"),
        )
        .otherwise(F.col("value"))
        .cast("long"),
    )
    counters = (
        ctr.groupBy("_k")
        .agg(
            F.first("addr").alias("addr"),
            F.first("name").alias("name"),
            F.first("attrs").alias("attrs"),
            F.sum("_cv").alias("int_value"),
            F.min_by("ts_ns", "line_id").alias("_first_ts"),
        )
        .select(
            "addr",
            "name",
            F.lit("counter").alias("kind"),
            "attrs",
            F.lit(start_ns).alias("start_ns"),
            F.when(F.col("_first_ts") != 0, F.col("_first_ts"))
            .otherwise(F.lit(now_ns))
            .alias("ts_ns"),
            "int_value",
        )
    )
    pieces.append(counters)

    # ---- gauges: last non-addition line is the base (or the first line
    # when every line is an addition), additions after it accumulate
    g = keyed.filter(F.col("metric_type") == "g")
    w = Window.partitionBy("_k")
    g = g.withColumn(
        "_base_id",
        F.coalesce(
            F.max(F.when(~F.col("addition"), F.col("line_id"))).over(w),
            F.min("line_id").over(w),
        ),
    )
    gauges = (
        g.filter(
            (F.col("line_id") == F.col("_base_id"))
            | (F.col("addition") & (F.col("line_id") > F.col("_base_id")))
        )
        .groupBy("_k")
        .agg(
            F.first("addr").alias("addr"),
            F.first("name").alias("name"),
            F.first("attrs").alias("attrs"),
            F.sum("value").alias("double_value"),
        )
        .select(
            "addr",
            "name",
            F.lit("gauge").alias("kind"),
            "attrs",
            F.lit(now_ns).alias("ts_ns"),
            "double_value",
        )
    )
    pieces.append(gauges)

    # ---- timings/histograms by observer
    for types, observer in (
        (("ms",), timer_observer),
        (("h", "d"), histogram_observer),
    ):
        obs = keyed.filter(F.col("metric_type").isin(*types))
        if observer == "disabled":
            continue
        if observer == "gauge":
            pieces.append(
                obs.select(
                    "addr",
                    "name",
                    F.lit("timer_gauge").alias("kind"),
                    "attrs",
                    F.lit(now_ns).alias("ts_ns"),
                    F.col("value").alias("double_value"),
                )
            )
            continue
        weighted = obs.withColumn(
            "_w",
            F.when(
                (F.col("sample_rate") > 0) & (F.col("sample_rate") < 1),
                F.lit(1.0) / F.col("sample_rate"),
            ).otherwise(F.lit(1.0)),
        )
        if observer == "summary":
            pieces.append(_summaries(weighted, start_ns, now_ns))
        else:  # histogram → scale-0 expo surface (module docstring)
            pieces.append(
                weighted.groupBy("_k")
                .agg(
                    F.first("addr").alias("addr"),
                    F.first("name").alias("name"),
                    F.first("attrs").alias("attrs"),
                    F.sum("_w").cast("long").alias("count"),
                    F.sum(F.col("value") * F.col("_w")).alias("sum"),
                )
                .select(
                    "addr",
                    "name",
                    F.lit("histogram").alias("kind"),
                    "attrs",
                    F.lit(start_ns).alias("start_ns"),
                    F.lit(now_ns).alias("ts_ns"),
                    "count",
                    "sum",
                )
            )

    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    types = {
        "start_ns": "long", "ts_ns": "long", "int_value": "long",
        "count": "long", "double_value": "double", "sum": "double",
        **{f"q{int(p)}": "double" for p in _PCTS},
    }
    for c in _FLUSH_COLS:
        if c not in out.columns:
            out = out.withColumn(c, F.lit(None).cast(types.get(c, "string")))
        elif c in types:
            out = out.withColumn(c, F.col(c).cast(types[c]))
    return out.select(*_FLUSH_COLS)


_SUMMARY_SCHEMA = T.StructType(
    [
        T.StructField("addr", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("attrs", T.MapType(T.StringType(), T.StringType())),
        T.StructField("count", T.LongType()),
        T.StructField("sum", T.DoubleType()),
    ]
    + [T.StructField(f"q{int(p)}", T.DoubleType()) for p in _PCTS]
)


def _summaries(weighted: DataFrame, start_ns: int, now_ns: int) -> DataFrame:
    """buildSummaryMetric (`metric_translator.go:71-101`): weighted
    count/sum plus gonum Empirical quantiles — smallest sample value
    whose cumulative weight reaches p×total — per group."""

    def agg(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        v = pdf["value"].to_numpy(dtype="float64")
        w = pdf["_w"].to_numpy(dtype="float64")
        order = np.argsort(v, kind="stable")
        v, w = v[order], w[order]
        cum = np.cumsum(w)
        total = cum[-1]
        row = {
            "addr": pdf["addr"].iloc[0],
            "name": pdf["name"].iloc[0],
            "attrs": pdf["attrs"].iloc[0],
            "count": int(total),  # uint64 truncation, translator note
            "sum": float((v * w).sum()),
        }
        for p in _PCTS:
            idx = int(np.searchsorted(cum, (p / 100.0) * total, side="left"))
            row[f"q{int(p)}"] = float(v[min(idx, len(v) - 1)])
        return pd.DataFrame([row])

    return (
        weighted.select("_k", "addr", "name", "attrs", "value", "_w")
        .groupBy("_k")
        .applyInPandas(agg, _SUMMARY_SCHEMA)
        .select(
            "addr",
            "name",
            F.lit("summary").alias("kind"),
            "attrs",
            F.lit(start_ns).alias("start_ns"),
            F.lit(now_ns).alias("ts_ns"),
            "count",
            "sum",
            *[F.col(f"q{int(p)}") for p in _PCTS],
        )
    )
