"""wavefrontreceiver parity — Wavefront data-format metric lines parsed
into typed datapoint rows (the receiver reuses carbon's transport and
differs only in the parser, `receiver/wavefrontreceiver/`).

Reference behavior (`wavefront_parser.go`):

- line = ``<name> <value> [<timestamp>] source=<source> [pointTags]``
  (`:51-96`); the name may be double-quoted; fewer than 3 space-split
  fields is an error; an empty (unquoted) name is an error;
- the timestamp is int seconds; when the third field isn't an int it
  must contain ``=`` (a tag) — then the timestamp was omitted and the
  reference stamps ``time.Now()`` (`:72-82`), wall clock this rebuild
  pins to 0 (repo invariant, as in the loki/kafka receivers);
- tags are space-separated ``key=value`` pairs; values may be
  double-quoted, where ONLY ``\\"`` and ``\\n`` unescape — and the
  escape scan only treats a backslash as an escape when it precedes a
  ``"`` or ``n`` byte (`:30-35,139-186`); an unterminated quoted value
  is "partially quoted tag value"; ``source`` is an ordinary tag;
- values parse int64-first, float64 fallback (typed points,
  `:101-108`); every wavefront metric is a gauge;
- ``extract_collectd_tags``: repeatedly pull ``[k=v,f=x]`` blocks out
  of the name (`internal/collectd/labels.go:19-52` — a block with a
  malformed pair aborts extraction for that iteration), and when the
  ORIGINAL name had no ``..`` collapse any ``..`` the removal produced
  (`wavefront_parser.go:116-139`).

Spark shape: one ``map_records`` pass; malformed lines dropped
(transport counts-and-continues).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..datamodel import DATAPOINT_SCHEMA
from ..functions.gofmt import go_parse_float, go_parse_int
from ..functions.records import map_records

__all__ = ["parse_wavefront_line", "wavefront_datapoints", "labels_from_name"]


def labels_from_name(name: str) -> tuple[str, dict[str, str]]:
    """collectd ``name[k=v,f=x]-rest`` extraction
    (`internal/collectd/labels.go:19-52`): returns the stripped name and
    the block's pairs, or (name, {}) when no well-formed block exists."""
    i = name.find("[")
    if i < 0:
        return name, {}
    left, rest = name[:i], name[i + 1 :]
    j = rest.find("]")
    if j < 0:
        return name, {}
    dims, rest = rest[:j], rest[j + 1 :]
    working: dict[str, str] = {}
    for piece in dims.split(","):
        k, eq, v = piece.partition("=")
        if not eq or "=" in v:
            return name, {}
        working[k] = v
    return left + rest, working


def _inject_collectd(name: str, attrs: dict[str, str]) -> str:
    """injectCollectDLabels (`wavefront_parser.go:116-139`)."""
    had_dotdot = ".." in name
    while True:
        name, dims = labels_from_name(name)
        if not dims:
            if not had_dotdot:
                name = name.replace("..", ".")
            return name
        attrs.update(dims)


def _build_labels(attrs: dict[str, str], tags: str) -> None:
    """buildLabels (`wavefront_parser.go:139-186`) — byte-faithful quoted
    value scan, incl. the escape rule that only ``\\"``/``\\n`` count."""
    while True:
        tags = tags.lstrip(" ")
        if not tags:
            return
        key_end = tags.find("=")
        if key_end < 0:
            raise ValueError(f"failed to break key for [{tags}]")
        key = tags[:key_end]
        tags = tags[key_end + 1 :]
        if len(tags) > 1 and tags[0] == '"':
            found_end = False
            found_escape = False
            value_end = 1
            while value_end < len(tags):
                c = tags[value_end]
                if c != '"' and c != "n":
                    value_end += 1
                    continue
                prev_is_escape = tags[value_end - 1] == "\\"
                if c == '"' and not prev_is_escape:
                    found_end = True
                    break
                found_escape = found_escape or prev_is_escape
                value_end += 1
            if not found_end:
                raise ValueError("partially quoted tag value")
            value = tags[1:value_end]
            tags = tags[value_end + 1 :]
            if found_escape:
                value = value.replace('\\"', '"').replace("\\n", "\n")
            attrs[key] = value
        else:
            value_end = tags.find(" ")
            if value_end < 0:
                attrs[key] = tags
                return
            attrs[key] = tags[:value_end]
            tags = tags[value_end + 1 :]


def _un_double_quote(s: str) -> str:
    if len(s) >= 2 and s[0] == '"' and s[-1] == '"':
        return s[1:-1]
    return s


def parse_wavefront_line(
    line: str, *, extract_collectd_tags: bool = False
) -> dict:
    """One wavefront line → parsed dict (`wavefront_parser.go:51-113`).
    Raises ValueError on the shapes the reference rejects."""
    parts = line.split(" ", 2)
    if len(parts) < 3:
        raise ValueError(f"invalid wavefront metric [{line}]")
    name = _un_double_quote(parts[0])
    if not name:
        raise ValueError(f"empty name for wavefront metric [{line}]")
    value_str, rest = parts[1], parts[2]

    sub = rest.split(" ", 1)
    ts_str = sub[0]
    tags = sub[1] if len(sub) == 2 else ""
    ts_int = go_parse_int(ts_str)
    if ts_int is not None:
        ts_ns = ts_int * 1_000_000_000
    else:
        if "=" not in ts_str:
            raise ValueError(
                f"invalid timestamp for wavefront metric [{line}]"
            )
        ts_ns = 0  # omitted → reference stamps time.Now(); pinned out
        tags = rest

    attrs: dict[str, str] = {}
    if tags:
        _build_labels(attrs, tags)
    if extract_collectd_tags:
        name = _inject_collectd(name, attrs)

    int_val = go_parse_int(value_str)
    dbl_val = None if int_val is not None else go_parse_float(value_str)
    return {
        "name": name,
        "kind": "gauge",
        "is_int": int_val is not None,
        "int_value": int_val,
        "double_value": dbl_val,
        "ts_ns": ts_ns,
        "attrs": attrs,
    }


def wavefront_datapoints(
    df: DataFrame,
    line_col: str = "line",
    *,
    extract_collectd_tags: bool = False,
) -> DataFrame:
    """Wavefront line DataFrame → typed datapoint rows, zero-shuffle.
    Malformed lines are dropped (module docstring)."""
    src = df.select(df[line_col].alias("line"))

    def one(row: dict) -> list[dict]:
        try:
            return [
                parse_wavefront_line(
                    row["line"], extract_collectd_tags=extract_collectd_tags
                )
            ]
        except ValueError:
            return []

    return map_records(src, one, DATAPOINT_SCHEMA)
