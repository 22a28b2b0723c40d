"""Carbon exporter parity — metric datapoints → Carbon plaintext
lines (the carbon receiver's inverse; the pair round-trips).

Reference behavior
(`exporter/carbonexporter/metricdata_to_plaintext.go`):

- gauge/sum number points: one line ``<path> <value> <ts_sec>`` —
  int values via FormatInt, doubles via ``FormatFloat('f', -1)``
  (never scientific), empty-valued points skipped;
- histogram points: ``<name>.count`` (count), ``<name>`` (sum), then
  one ``<name>.bucket;...;upper_bound=<bound>`` line per bucket with
  the label-formatted bound (``FormatFloat('g', -1)`` — scientific
  when the decimal exponent is < −4 or ≥ 6) and ``inf`` for the
  implicit last bound; points with no explicit bounds emit only
  count+sum;
- summary points: count+sum the same way, then
  ``<name>.quantile;...;quantile=<q*100>`` per quantile with the
  label float format;
- path = ``name[;key=value...]`` in attribute order; tag KEYS are
  sanitized (``;!^=`` → ``_``) but tag VALUES are passed through
  unsanitized — the reference defines ``sanitizeTagValue`` and never
  calls it in this path (quirk preserved); empty values become
  ``<empty>``;
- metrics with an empty name are skipped; timestamps truncate ns→s.

Spark shape: one ``map_records`` pass over flat datapoint rows;
one output row per emitted line so the carbon RECEIVER parses the
result straight back (round-trip pinned in the driver query).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, types as T

from ..functions.gofmt import go_format_float_f, go_format_float_g
from ..functions.records import map_records, null_as_none

__all__ = ["build_path", "carbon_lines", "sanitize_tag_key"]

_KEY_BAD = set(";!^=")


def sanitize_tag_key(key: str) -> str:
    return "".join("_" if c in _KEY_BAD else c for c in key)


def build_path(name: str, attributes: Optional[dict]) -> str:
    """`metricdata_to_plaintext.go:252-277` — keys sanitized, values
    NOT (reference quirk), empty values → ``<empty>``."""
    if not attributes:
        return name
    parts = [name]
    for k, v in attributes.items():
        value = str(v) if v is not None and str(v) != "" else "<empty>"
        parts.append(";" + sanitize_tag_key(str(k)) + "=" + value)
    return "".join(parts)


def _dp_lines(rec: dict) -> list[str]:
    name = str(rec.get("metric_name") or "")
    if not name:
        return []  # empty-name metric skipped
    mtype = str(rec.get("metric_type") or "")
    attrs = dict(rec.get("attributes") or {})
    ts = str(int(rec.get("time_unix_nano") or 0) // 1_000_000_000)
    out: list[str] = []

    def line(path: str, value: str) -> None:
        out.append(f"{path} {value} {ts}")

    if mtype in ("gauge", "sum"):
        vi, vd = null_as_none(rec.get("value_int")), null_as_none(rec.get("value_double"))
        if vi is None and vd is None:
            return []  # empty-valued number point skipped
        value = (
            str(int(vi)) if vi is not None else go_format_float_f(float(vd))
        )
        line(build_path(name, attrs), value)
        return out

    if mtype in ("histogram", "summary"):
        count = int(null_as_none(rec.get("count")) or 0)
        total = float(null_as_none(rec.get("sum")) or 0.0)
        line(build_path(name + ".count", attrs), str(count))
        line(build_path(name, attrs), go_format_float_f(total))
        if mtype == "histogram":
            b_raw = rec.get("bounds")
            bounds = [] if b_raw is None else list(b_raw)
            c_raw = rec.get("bucket_counts")
            buckets = [] if c_raw is None else list(c_raw)
            if not bounds:
                return out
            labels = [go_format_float_g(b) for b in bounds] + ["inf"]
            bucket_path = build_path(name + ".bucket", attrs)
            for j, c in enumerate(buckets):
                line(
                    bucket_path + ";upper_bound=" + labels[j],
                    str(int(c)),
                )
        else:
            q_raw = rec.get("quantiles")
            quantiles = [] if q_raw is None else list(q_raw)
            if not quantiles:
                return out
            qpath = build_path(name + ".quantile", attrs)
            for q in quantiles:
                qv = q if isinstance(q, dict) else q.asDict()
                line(
                    qpath + ";quantile="
                    + go_format_float_g(float(qv["quantile"]) * 100),
                    go_format_float_f(float(qv["value"])),
                )
        return out
    return []


_SCHEMA = T.StructType([T.StructField("line", T.StringType())])


def carbon_lines(df: DataFrame) -> DataFrame:
    """Flat metric-datapoint rows → Carbon plaintext lines (one row
    per line). Zero-shuffle."""
    return map_records(
        df, lambda rec: [{"line": line} for line in _dp_lines(rec)], _SCHEMA
    )
