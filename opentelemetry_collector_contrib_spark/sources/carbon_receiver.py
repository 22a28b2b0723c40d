"""carbonreceiver parity — Graphite/Carbon plaintext metric lines parsed
into datapoint rows.

Reference behavior (`receiver/carbonreceiver/protocol/`):

- line = ``<metric_path> <metric_value> <metric_timestamp>`` — exactly 3
  space-separated fields (`path_parser_helper.go:93-97`); the value
  parses as int64 first, float64 on failure (typed datapoint,
  `:121-127,139-143`); the timestamp parses as int64 seconds first,
  float64 on failure with ``modf`` splitting seconds/nanos
  (`:107-119`);
- plaintext path = ``<name>[;tag0;...;tagN]`` with ``key=value`` tags;
  an empty name or a tag without ``=`` past position 0 is an error;
  ``k=`` yields an empty-string value (`plaintext_parser.go:39-71`);
- regex path parser (`regex_parser.go`): first matching rule wins
  (unanchored match); named captures ``key_<k>`` become attributes
  (non-participating optional captures yield ""), ``name_<part>``
  captures join — SORTED BY CAPTURE NAME — onto ``name_prefix`` with
  ``name_separator``; rule labels overwrite captured attributes; empty
  resulting name falls back to the raw path; rule ``type`` selects
  gauge (default) or cumulative; no rule matching → plaintext fallback.
  Config validation mirrors `compileRegexRules` (unknown capture
  prefixes, unknown metric type, empty rule list).

Divergence note: Go's ParseInt/ParseFloat reject ``_`` digit
separators and non-ASCII digits that Python would accept — the parser
guards both so malformed-line behavior matches.

Spark shape: one ``map_records`` pass — line-parallel decode, rule
regexes compiled once per executor batch iterator, no exchange.
Malformed lines are dropped (the transport reporter counts-and-continues).
"""

from __future__ import annotations

import math
import re

from pyspark.sql import DataFrame

from ..datamodel import DATAPOINT_SCHEMA
from ..functions.gofmt import go_parse_float, go_parse_int
from ..functions.records import map_records

__all__ = ["RegexRule", "parse_carbon_line", "carbon_datapoints"]

class RegexRule:
    """One `regex_parser.go` rule (compiled eagerly, validation parity
    with `compileRegexRules`)."""

    def __init__(
        self,
        regexp: str,
        *,
        name_prefix: str = "",
        labels: dict[str, str] | None = None,
        metric_type: str = "",
    ):
        if metric_type not in ("", "gauge", "cumulative"):
            raise ValueError(
                f"unknown metric type {metric_type!r} valid choices are:"
                " 'gauge' or 'cumulative'"
            )
        self.compiled = re.compile(regexp)
        for name in self.compiled.groupindex:
            if not (name.startswith("name_") or name.startswith("key_")):
                raise ValueError(f"capture {name!r} has an unknown prefix")
        self.name_prefix = name_prefix
        self.labels = dict(labels or {})
        self.metric_type = metric_type or "gauge"
        self.name_parts = sorted(
            n for n in self.compiled.groupindex if n.startswith("name_")
        )


def _parse_plaintext_path(path: str) -> tuple[str, dict[str, str]]:
    name, _, tagstr = path.partition(";")
    if not name:
        raise ValueError(f"empty metric name extracted from path [{path}]")
    attrs: dict[str, str] = {}
    if tagstr:
        for tag in tagstr.split(";"):
            idx = tag.find("=")
            if idx < 1:
                raise ValueError(
                    f"cannot parse metric path [{path}]: incorrect key value"
                    f" separator for [{tag}]"
                )
            attrs[tag[:idx]] = tag[idx + 1 :]
    return name, attrs


def _parse_path(
    path: str, rules: list[RegexRule] | None, name_separator: str
) -> tuple[str, dict[str, str], str]:
    """→ (name, attrs, kind). Regex rules first-match-wins, plaintext
    fallback (`regex_parser.go:163-207`)."""
    for rule in rules or ():
        m = rule.compiled.search(path)
        if m is None:
            continue
        attrs: dict[str, str] = {}
        lookup: dict[str, str] = {}
        for name, idx in rule.compiled.groupindex.items():
            val = m.group(idx) or ""
            if name.startswith("name_"):
                lookup[name] = val
            else:
                attrs[name[len("key_") :]] = val
        attrs.update(rule.labels)
        if rule.name_parts:
            metric_name = rule.name_prefix + "".join(
                name_separator + lookup[p] for p in rule.name_parts
            )
        else:
            metric_name = rule.name_prefix
        return metric_name or path, attrs, rule.metric_type
    name, attrs = _parse_plaintext_path(path)
    return name, attrs, "gauge"


def parse_carbon_line(
    line: str,
    rules: list[RegexRule] | None = None,
    name_separator: str = "",
) -> dict:
    """One carbon line → parsed dict (`path_parser_helper.go:92-147`).
    Raises ValueError on the shapes the reference rejects."""
    parts = line.split(" ", 3)
    if len(parts) != 3:
        raise ValueError(f"invalid carbon metric [{line}]")
    path, value_str, ts_str = parts
    name, attrs, kind = _parse_path(path, rules, name_separator)

    ts_int = go_parse_int(ts_str)
    if ts_int is not None:
        ts_ns = ts_int * 1_000_000_000
    else:
        dbl = go_parse_float(ts_str)
        frac, sec = math.modf(dbl)
        ts_ns = int(sec) * 1_000_000_000 + int(frac * 1e9)

    int_val = go_parse_int(value_str)
    dbl_val = None if int_val is not None else go_parse_float(value_str)
    return {
        "name": name,
        "kind": kind,
        "is_int": int_val is not None,
        "int_value": int_val,
        "double_value": dbl_val,
        "ts_ns": ts_ns,
        "attrs": attrs,
    }


def carbon_datapoints(
    df: DataFrame,
    line_col: str = "line",
    *,
    rules: list[RegexRule] | None = None,
    name_separator: str = "",
) -> DataFrame:
    """Carbon line DataFrame → typed datapoint rows, zero-shuffle.
    Malformed lines are dropped (module docstring)."""
    src = df.select(df[line_col].alias("line"))

    def one(row: dict) -> list[dict]:
        try:
            return [parse_carbon_line(row["line"], rules, name_separator)]
        except ValueError:
            return []

    return map_records(src, one, DATAPOINT_SCHEMA)
