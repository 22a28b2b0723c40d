"""Go value formats the reference's marshalers emit and its decoders accept.

One copy of each, shared by every receiver and exporter that must match
the collector byte for byte:

- ``go_json_string`` / ``go_json_value``: ``encoding/json`` marshaling
  (HTML escaping, sorted map keys, no spaces);
- ``go_time_string``: ``time.Time.String()`` of a UTC instant, which is
  what ``pcommon.Timestamp`` prints through ``%s``;
- ``go_time_rfc3339nano``: ``time.RFC3339Nano`` (and ``time.Time``'s JSON
  form) of a UTC instant;
- ``go_format_float_f`` / ``go_format_float_g``:
  ``strconv.FormatFloat(f, 'f'|'g', -1, 64)``;
- ``go_parse_int`` / ``go_parse_float``: what ``strconv.ParseInt`` /
  ``ParseFloat`` accept in the carbon-style line protocols.
"""

from __future__ import annotations

import json
import re
from datetime import datetime, timezone
from typing import Optional

__all__ = [
    "go_format_float_f",
    "go_format_float_g",
    "go_json_string",
    "go_json_value",
    "go_parse_float",
    "go_parse_int",
    "go_time_rfc3339nano",
    "go_time_string",
]

# characters json.dumps leaves alone that Go's encoder escapes
_GO_ESCAPED = re.compile("[<>&\u2028\u2029\b\f]")


def go_json_string(s: str) -> bytes:
    """Bytes of Go's ``json.Marshal`` for a string value.

    Go's encoder differs from ``json.dumps`` in three ways: it
    HTML-escapes ``<``, ``>``, ``&`` to ``\\u003c/\\u003e/\\u0026``,
    escapes U+2028/U+2029, and emits no spaces. Everything else (``\\"``,
    ``\\\\``, ``\\n/\\r/\\t``, ``\\u00XX`` for other control chars,
    literal UTF-8 passthrough) matches.
    """
    # fast path: C-implemented json.dumps matches Go byte-for-byte except
    # for Go's extra HTML/U+2028-29 escapes — only escape-loop strings
    # that actually contain one of those (rare in log bodies)
    if not _GO_ESCAPED.search(s):
        return json.dumps(s, ensure_ascii=False).encode("utf-8")
    out = ["\""]
    for ch in s:
        o = ord(ch)
        if ch == '"':
            out.append('\\"')
        elif ch == "\\":
            out.append("\\\\")
        elif ch == "\n":
            out.append("\\n")
        elif ch == "\r":
            out.append("\\r")
        elif ch == "\t":
            out.append("\\t")
        elif o < 0x20:
            out.append(f"\\u{o:04x}")
        elif ch in "<>&":
            out.append(f"\\u{o:04x}")
        elif o in (0x2028, 0x2029):
            out.append(f"\\u{o:04x}")
        else:
            out.append(ch)
    out.append("\"")
    return "".join(out).encode("utf-8")


def go_json_value(v) -> bytes:
    """Go ``encoding/json`` bytes for a decoded value: map keys sorted,
    strings HTML-escaped, anything else rendered as its string."""
    if v is None:
        return b"null"
    if isinstance(v, bool):
        return b"true" if v else b"false"
    if isinstance(v, (int, float)):
        return json.dumps(v).encode()
    if isinstance(v, str):
        return go_json_string(v)
    if isinstance(v, dict):
        items = [
            go_json_string(str(k)) + b":" + go_json_value(v[k])
            for k in sorted(v, key=str)
        ]
        return b"{" + b",".join(items) + b"}"
    if isinstance(v, (list, tuple)):
        return b"[" + b",".join(go_json_value(e) for e in v) + b"]"
    return go_json_string(str(v))


def _utc(sec: int, layout: str) -> str:
    return datetime.fromtimestamp(sec, tz=timezone.utc).strftime(layout)


def go_time_string(ns: int) -> str:
    """``time.Unix(0, ns).UTC().String()``
    (``2006-01-02 15:04:05.999999999 -0700 MST``): the fraction trimmed
    of trailing zeros, omitted when zero. ns 0 is the Unix epoch, as
    ``pcommon.Timestamp(0)`` prints; a zero ``metav1.Time`` is Go's zero
    time instead, which its callers render themselves."""
    sec, frac = divmod(int(ns), 1_000_000_000)
    base = _utc(sec, "%Y-%m-%d %H:%M:%S")
    if frac:
        base += f".{frac:09d}".rstrip("0")
    return base + " +0000 UTC"


def go_time_rfc3339nano(ns: int) -> str:
    """``time.RFC3339Nano`` for a UTC instant (also ``time.Time``'s JSON
    form): the fraction trimmed of trailing zeros, omitted when zero,
    ``Z`` suffix."""
    sec, frac = divmod(int(ns), 1_000_000_000)
    base = _utc(sec, "%Y-%m-%dT%H:%M:%S")
    if frac:
        base += f".{frac:09d}".rstrip("0")
    return base + "Z"


def _shortest(f: float) -> tuple[str, str, int]:
    """(sign, shortest digits, dp) with value = sign 0.<digits> × 10^dp."""
    s = repr(float(f))
    sign = ""
    if s.startswith("-"):
        sign, s = "-", s[1:]
    if "e" in s:
        mant, exp = s.split("e")
        exp = int(exp)
    else:
        mant, exp = s, 0
    if "." in mant:
        intp, frac = mant.split(".")
    else:
        intp, frac = mant, ""
    stripped_int = intp.lstrip("0")
    if stripped_int:
        dp = len(stripped_int) + exp
        digits = (stripped_int + frac).rstrip("0") or "0"
    else:
        lead = len(frac) - len(frac.lstrip("0"))
        dp = -lead + exp
        digits = frac.lstrip("0").rstrip("0") or "0"
    if digits == "0":
        dp = 1
    return sign, digits, dp


def go_format_float_f(f: float) -> str:
    """``strconv.FormatFloat(f, 'f', -1, 64)`` — shortest round-trip
    digits, never scientific."""
    f = float(f)
    if f != f:
        return "NaN"
    if f in (float("inf"), float("-inf")):
        return "+Inf" if f > 0 else "-Inf"
    sign, digits, dp = _shortest(f)
    if f == 0:
        return sign + "0"
    if dp >= len(digits):
        return sign + digits + "0" * (dp - len(digits))
    if dp > 0:
        return sign + digits[:dp] + "." + digits[dp:]
    return sign + "0." + "0" * (-dp) + digits


def go_format_float_g(f: float) -> str:
    """``strconv.FormatFloat(f, 'g', -1, 64)`` — scientific when the
    printed exponent is < −4 or ≥ 6 (Go's shortest-mode eprec)."""
    f = float(f)
    if f != f:
        return "NaN"
    if f in (float("inf"), float("-inf")):
        return "+Inf" if f > 0 else "-Inf"
    if f == 0:
        return "-0" if repr(f).startswith("-") else "0"
    sign, digits, dp = _shortest(f)
    e = dp - 1
    if e < -4 or e >= 6:
        mant = digits[0]
        if len(digits) > 1:
            mant += "." + digits[1:]
        return f"{sign}{mant}e{'+' if e >= 0 else '-'}{abs(e):02d}"
    return go_format_float_f(f)


_INT_RE = re.compile(r"^[+-]?[0-9]+$")


def go_parse_int(s: str) -> Optional[int]:
    """The integer a base-10 ``strconv.ParseInt`` accepts in ``s``, else
    None (the line protocols then try a float)."""
    return int(s) if _INT_RE.match(s) else None


def go_parse_float(s: str) -> float:
    """``strconv.ParseFloat``: Python's ``float`` minus its ``_`` digit
    separators, which Go rejects. Raises ValueError."""
    if "_" in s:
        raise ValueError(f"invalid float {s!r}")
    return float(s)
