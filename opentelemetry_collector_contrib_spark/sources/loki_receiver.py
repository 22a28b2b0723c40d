"""lokireceiver parity — Loki push entries back into flat log-record
rows, the read half of ``operators.loki_exporter``.

Reference behavior (`receiver/lokireceiver/loki.go` +
`pkg/translator/loki/loki_to_otlp.go`):

- ``PushRequestToLogs`` walks every stream of the push request; the
  stream's label string (``{label1="value1", label2="value2"}``, i.e. a
  promql metric selector) parses into a label set; labels starting with
  ``__`` are internal and dropped (`loki_to_otlp.go:36-53`);
- a stream whose label string fails to parse is SKIPPED (the loop
  ``continue``s, counting the error, `loki_to_otlp.go:38-42`) — its
  entries never become records;
- every entry becomes one record: body = the line, attributes = the
  filtered label set, timestamp = the entry timestamp when
  ``keepTimestamp`` and it is non-zero (`loki_to_otlp.go:69-82`);
- all records land under ONE resource + ONE scope, both empty
  (`loki_to_otlp.go:24-26`).

Documented divergence: the reference stamps ObservedTimestamp =
``time.Now()`` and falls back to it when ``keepTimestamp`` is off or the
entry has no timestamp — wall-clock state this rebuild pins out of query
outputs everywhere (rerun-stable oracles); the fallback is therefore 0,
as in ``kafka_receiver``'s text/json modes.

Input is the entry surface ``operators.loki_exporter.loki_entries``
emits — one row per entry with its stream's ``labels`` string — which is
exactly the shape iterating the push proto's streams×entries yields, so
exporter output round-trips through this module by construction.

Scale: unmarshaling is one ``map_records`` pass — each entry
decodes on the executor that received it, entry-parallel, composing into
any downstream stage without an exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..datamodel import FLAT_LOG_SCHEMA
from ..functions.records import map_records

__all__ = ["loki_log_records", "parse_label_string"]


def _unquote_go(s: str) -> str:
    """Go double-quoted string literal → value (the subset promql string
    escapes allow: \\a \\b \\f \\n \\r \\t \\v \\\\ \\" \\xHH \\uHHHH
    \\UHHHHHHHH and octal \\NNN). Raises ValueError on malformed input —
    the caller's skip-the-stream path."""
    if len(s) < 2 or s[0] != '"' or s[-1] != '"':
        raise ValueError(f"not a quoted string: {s!r}")
    body = s[1:-1]
    out: list[str] = []
    i = 0
    simple = {
        "a": "\a", "b": "\b", "f": "\f", "n": "\n", "r": "\r",
        "t": "\t", "v": "\v", "\\": "\\", '"': '"',
    }
    while i < len(body):
        c = body[i]
        if c == '"':
            raise ValueError("unescaped quote inside string")
        if c != "\\":
            out.append(c)
            i += 1
            continue
        i += 1
        if i >= len(body):
            raise ValueError("trailing backslash")
        e = body[i]
        if e in simple:
            out.append(simple[e])
            i += 1
        elif e in ("x", "u", "U"):
            n = {"x": 2, "u": 4, "U": 8}[e]
            hexs = body[i + 1 : i + 1 + n]
            if len(hexs) != n:
                raise ValueError(f"short \\{e} escape")
            out.append(chr(int(hexs, 16)))
            i += 1 + n
        elif e.isdigit():
            octs = body[i : i + 3]
            if len(octs) != 3 or not all(ch in "01234567" for ch in octs):
                raise ValueError("malformed octal escape")
            out.append(chr(int(octs, 8)))
            i += 3
        else:
            raise ValueError(f"unknown escape \\{e}")
    return "".join(out)


def parse_label_string(labels: str) -> dict[str, str]:
    """``{a="x", b="y"}`` → label dict (promql ``ParseMetric`` subset:
    optional braces, ``name="go-quoted value"`` pairs, comma-separated,
    trailing comma allowed). Raises ValueError on malformed input."""
    s = labels.strip()
    if s.startswith("{"):
        if not s.endswith("}"):
            raise ValueError("unbalanced braces in label string")
        s = s[1:-1]
    out: dict[str, str] = {}
    i, n = 0, len(s)
    while i < n:
        while i < n and s[i] in " \t":
            i += 1
        if i >= n:
            break
        j = i
        while j < n and (s[j].isalnum() or s[j] in "_:"):
            j += 1
        name = s[i:j]
        if not name or name[0].isdigit():
            raise ValueError(f"bad label name at {i}: {s[i:j+1]!r}")
        while j < n and s[j] in " \t":
            j += 1
        if j >= n or s[j] != "=":
            raise ValueError(f"expected '=' after label {name!r}")
        j += 1
        while j < n and s[j] in " \t":
            j += 1
        if j >= n or s[j] != '"':
            raise ValueError(f"expected quoted value for label {name!r}")
        # scan the quoted value, honoring backslash escapes
        k = j + 1
        while k < n:
            if s[k] == "\\":
                k += 2
                continue
            if s[k] == '"':
                break
            k += 1
        if k >= n:
            raise ValueError(f"unterminated value for label {name!r}")
        out[name] = _unquote_go(s[j : k + 1])
        i = k + 1
        while i < n and s[i] in " \t":
            i += 1
        if i < n:
            if s[i] != ",":
                raise ValueError(f"expected ',' at {i}")
            i += 1
    return out


def loki_log_records(df: DataFrame, *, keep_timestamp: bool = True) -> DataFrame:
    """Loki push entries (``labels`` string, ``ts_ns`` long, ``line``
    string) → flat log records (`loki_to_otlp.go:19-82`).

    Per entry: body = line, attributes = the stream's labels minus
    ``__``-internal ones, timestamp = ts_ns when ``keep_timestamp`` and
    non-zero else 0 (observed-time divergence, module docstring).
    Entries of unparseable streams are dropped, as the reference skips
    those streams. Resource and scope are empty — the single empty
    ResourceLogs/ScopeLogs the translator allocates."""
    src = df.select("labels", "ts_ns", "line")

    streams: dict[str, dict | None] = {}  # labels → attributes, per task

    def one(row: dict) -> list[dict]:
        labels = row["labels"]
        if labels not in streams:
            try:
                parsed = parse_label_string(labels)
                streams[labels] = {
                    k: v for k, v in parsed.items() if not k.startswith("__")
                }
            except ValueError:
                streams[labels] = None  # malformed stream: skip
        attrs = streams[labels]
        if attrs is None:
            return []
        ns = int(row["ts_ns"]) if row["ts_ns"] is not None else 0
        return [
            {
                "time_unix_nano": ns if keep_timestamp and ns else 0,
                "severity_number": 0,
                "severity_text": "",
                "body": row["line"],
                "attributes": attrs,
                "resource": {},
                "scope_name": "",
                "trace_id": "",
                "span_id": "",
            }
        ]

    return map_records(src, one, FLAT_LOG_SCHEMA)
