"""OTTL AST → pyspark Column compiler.

The reference builds closure trees resolved by reflection and interprets
them per record (`pkg/ottl/functions.go:190-300`, `expression.go:20-740`);
here every statement compiles ONCE to Column expressions, so condition
gating, boolean short-circuit, and constant folding are Catalyst's job
(SURVEY §4: the reference's hand-rolled optimizations are all free).

Comparison coercion follows `pkg/ottl/compare.go:19-214` where Spark's own
coercion agrees (int/float cross-promote, bool false<true); bytes compare
lexicographically (Spark binary comparison). Editors follow the semantics
table in `pkg/ottl/ottlfuncs/functions.go:13-24`; error mode `ignore` is the
default (failed conversions → null, mirroring ErrorMode ignore,
`parser.go:264-278`); `propagate` maps to spark.sql.ansi.enabled.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .parser import (
    And, BinOp, Call, Comparison, Enum, ListExpr, Literal, Not, Or, Path,
    Statement, parse_condition, parse_statement,
)

# Log-context enum symbols (contexts/ottllog/log.go:111-136): the OTLP
# severity-number scale — UNSPECIFIED=0, then TRACE..FATAL in blocks of 4.
ENUM_SYMBOLS: dict[str, int] = {"SEVERITY_NUMBER_UNSPECIFIED": 0}
for _i, _lvl in enumerate(("TRACE", "DEBUG", "INFO", "WARN", "ERROR", "FATAL")):
    for _j in range(4):
        _suffix = "" if _j == 0 else str(_j + 1)
        ENUM_SYMBOLS[f"SEVERITY_NUMBER_{_lvl}{_suffix}"] = 1 + _i * 4 + _j


# ------------------------------------------------------------------ context

@dataclass
class LogContext:
    """Path resolution for the flattened log record (the ottllog context,
    `pkg/ottl/contexts/ottllog/log.go:153-222`, minus the resource/scope
    tree levels which are plain columns here)."""

    # top-level fields addressable as bare identifiers
    fields: dict[str, str] = field(
        default_factory=lambda: {
            "body": "body",
            "severity_text": "severity_text",
            "severity_number": "severity_number",
            "time": "ts",
            "ts": "ts",
            "observed_time": "observed_ts",
            "trace_id": "trace_id",
            "span_id": "span_id",
            "attributes": "attributes",
            "resource": "resource",
            "cache": "cache",
            "source": "source",
            "n_tok": "n_tok",
            "doc_id": "doc_id",
            "route": "route",
            "team": "team",
            "region": "region",
            "tier": "tier",
        }
    )

    def resolve(self, path: Path) -> Column:
        segs = list(path.segments)
        head = segs.pop(0)
        if head == "resource" and segs and segs[0] == "attributes":
            segs.pop(0)  # resource.attributes["k"] ≡ resource["k"]
        name = self.fields.get(head, head)
        col = F.col(name)
        for s in segs:
            if isinstance(s, tuple) and s[0] == "key":
                k = s[1]
                col = col.getItem(k)
            else:
                col = col.getField(s)
        return col

    def target(self, path: Path) -> tuple[str, object]:
        """Returns (column_name, key_or_None) for a settable path."""
        segs = list(path.segments)
        head = segs.pop(0)
        if head == "resource" and segs and segs[0] == "attributes":
            segs.pop(0)
        name = self.fields.get(head, head)
        if not segs:
            return name, None
        if len(segs) == 1 and isinstance(segs[0], tuple):
            return name, segs[0][1]
        raise ValueError(f"unsupported set target depth: {path}")


# ------------------------------------------------------------- converters

def _map_set(map_col: Column, key: str, value: Column) -> Column:
    """attributes["k"] = v  (upsert into map<string,string>)."""
    cleaned = F.map_filter(
        F.coalesce(map_col, F.create_map().cast("map<string,string>")),
        lambda k, _v: k != F.lit(key),
    )
    return F.map_concat(cleaned, F.create_map(F.lit(key), value.cast("string")))


def _snake_case(c: Column) -> Column:
    # two passes for acronym boundaries (strcase.ToSnake semantics):
    # HTTPStatusCode → HTTP_StatusCode → HTTP_Status_Code → http_status_code
    step1 = F.regexp_replace(c, r"([A-Z]+)([A-Z][a-z])", r"$1_$2")
    return F.lower(F.regexp_replace(step1, r"([a-z0-9])([A-Z])", r"$1_$2"))


def _camel_case(c: Column) -> Column:
    # snake → CamelCase via initcap on '_'-split words
    return F.array_join(
        F.transform(F.split(c, "_"), lambda w: F.initcap(w)), ""
    )


def duration_text_to_ns(c: str) -> int:
    """'1h30m' → nanoseconds (Go time.ParseDuration subset)."""
    import re as _re

    total = 0.0
    for num, unit in _re.findall(r"([0-9.]+)(ns|us|µs|ms|s|m|h)", c):
        mult = {
            "ns": 1, "us": 1e3, "µs": 1e3, "ms": 1e6,
            "s": 1e9, "m": 6e10, "h": 3.6e12,
        }[unit]
        total += float(num) * mult
    return int(total)


def _duration_ns(c) -> Column:
    """Duration("1h30m") → nanoseconds (math.go time±duration support).
    Accepts literal strings at compile time only."""
    if isinstance(c, str):
        return F.lit(duration_text_to_ns(c))
    raise ValueError("Duration() requires a literal string")


def _extract_patterns(target: Column, pattern: str) -> Column:
    """ExtractPatterns → map<group_name, value> (func_extract_patterns.go:35).

    Uses each named group's TRUE group index (re.groupindex), like the
    reference's SubexpNames walk: a pattern mixing unnamed and named groups
    ('(\\d+)-(?P<word>\\w+)') must read group 2 for "word", not group 1.
    Stripping the (?P<..> syntax preserves group numbering."""
    import re as _re

    jvm_pat = _re.sub(r"\(\?P<[^>]+>", "(", pattern)
    pairs = []
    for name, idx in _re.compile(pattern).groupindex.items():
        v = F.regexp_extract(target, jvm_pat, idx)
        pairs.extend([F.lit(name), v])
    return F.map_filter(F.create_map(*pairs), lambda _k, v: v != "")


CONVERTERS: dict[str, Callable[..., Column]] = {}


def _build_converters() -> None:
    C = CONVERTERS
    C["Base64Decode"] = lambda x: F.unbase64(_as_col(x)).cast("string")
    C["Concat"] = lambda lst, delim: F.concat_ws(_lit_str(delim), *[_as_col(i) for i in lst])
    C["Double"] = lambda x: _as_col(x).cast("double")
    C["Int"] = lambda x: _as_col(x).cast("double").cast("long")
    C["String"] = lambda x: _as_col(x).cast("string")
    C["Duration"] = _duration_ns
    C["Seconds"] = lambda d: (_as_col(d) / 1e9).cast("double")
    C["Milliseconds"] = lambda d: (_as_col(d) / 1e6).cast("long")
    C["Microseconds"] = lambda d: (_as_col(d) / 1e3).cast("long")
    C["Nanoseconds"] = lambda d: _as_col(d).cast("long")
    C["Hours"] = lambda d: (_as_col(d) / 3.6e12).cast("double")
    C["Minutes"] = lambda d: (_as_col(d) / 6e10).cast("double")
    C["ExtractPatterns"] = lambda t, p: _extract_patterns(_as_col(t), _lit_str(p))
    C["FNV"] = lambda x: F.xxhash64(_as_col(x))  # 64-bit keyed hash analog of FNV
    C["SHA1"] = lambda x: F.sha1(_as_col(x))
    C["SHA256"] = lambda x: F.sha2(_as_col(x), 256)
    C["Hour"] = lambda t: F.hour(_as_col(t))
    C["IsMatch"] = lambda x, p: _as_col(x).rlike(_lit_str(p))
    # IsBool/IsInt/IsDouble/IsString/IsMap/IsList and Len are compiled by
    # Compiler.value() against the bound schema (static type dispatch) —
    # see Compiler._type_predicate / Compiler._len.
    C["Log"] = lambda x: F.log(_as_col(x).cast("double"))
    C["Now"] = lambda: F.current_timestamp()
    C["ParseCSV"] = _parse_csv
    # func_parse_json.go → a map value; scalar JSON values coerce to their
    # string rendering (our attribute maps are map<string,string>); malformed
    # JSON → null (ErrorMode ignore)
    C["ParseJSON"] = lambda x: F.from_json(_as_col(x), "map<string,string>")
    # func_parse_xml.go — the reference flattens to a dynamic document map;
    # under a fixed schema the target structure is declared as a DDL literal
    # (attributes address as _name fields per from_xml convention)
    C["ParseXML"] = lambda x, schema: F.from_xml(_as_col(x), _lit_str(schema))
    C["ParseKeyValue"] = lambda x, pd=" ", kd="=": F.str_to_map(
        _as_col(x), F.lit(_lit_str(pd)), F.lit(_lit_str(kd))
    )
    C["Split"] = lambda x, d: F.split(_as_col(x), _re_escape(_lit_str(d)))
    C["Substring"] = lambda x, s, l: F.substring(_as_col(x), _lit_int(s) + 1, _lit_int(l))
    C["Time"] = lambda x, fmt: F.to_timestamp(_as_col(x), _strptime_to_spark(_lit_str(fmt)))
    C["TruncateTime"] = lambda t, unit: F.date_trunc(_lit_str(unit), _as_col(t))
    C["UnixSeconds"] = lambda t: F.unix_timestamp(_as_col(t))
    C["UnixMilli"] = lambda t: F.unix_millis(_as_col(t))
    C["UnixMicro"] = lambda t: F.unix_micros(_as_col(t))
    C["UnixNano"] = lambda t: F.unix_micros(_as_col(t)) * 1000
    C["UUID"] = lambda: F.expr("uuid()")
    C["TraceID"] = lambda x: F.lower(F.hex(_as_col(x)))
    C["SpanID"] = lambda x: F.lower(F.hex(_as_col(x)))
    C["ConvertCase"] = _convert_case
    # Unix(seconds[, nanos]) → epoch-nanoseconds "time" value, the generic
    # constructor of func_unix.go (pairs with the Seconds/UnixSeconds family
    # which all treat long time values as nanos)
    C["Unix"] = lambda s, ns=0: (_as_col(s).cast("long") * F.lit(1_000_000_000)) + _as_col(ns).cast("long")


def _parse_csv(x, header, delim: str = ",") -> Column:
    """ParseCSV(target, headerString) → map<header,value> (func_parse_csv;
    simple-split mode — the reference's lazy-quote handling is csv_parser's
    job via from_csv when a schema is known)."""
    import re as _re

    cols = _lit_str(header).split(delim)
    vals = F.split(_as_col(x), _re.escape(delim))
    padded = F.concat(
        vals, F.array_repeat(F.lit(None).cast("string"), len(cols))
    )
    return F.map_from_arrays(
        F.array(*[F.lit(c) for c in cols]), F.slice(padded, 1, len(cols))
    )


def _convert_case(x, case) -> Column:
    x = _as_col(x)
    case = _lit_str(case)
    if case == "upper":
        return F.upper(x)
    if case == "lower":
        return F.lower(x)
    if case == "snake":
        return _snake_case(x)
    if case == "camel":
        return _camel_case(x)
    raise ValueError(f"ConvertCase: unknown case {case!r}")


def _lit_str(v) -> str:
    if isinstance(v, str):
        return v
    raise ValueError(f"expected literal string, got {v!r}")


def _lit_int(v) -> int:
    if isinstance(v, int):
        return v
    raise ValueError(f"expected literal int, got {v!r}")


def _re_escape(s: str) -> str:
    import re as _re

    return _re.escape(s)


def _strptime_to_spark(fmt: str) -> str:
    """ctime directives (`operator/helper/time.go` strptime mode) → Spark
    datetime pattern."""
    table = {
        "%Y": "yyyy", "%m": "MM", "%d": "dd", "%H": "HH", "%M": "mm",
        "%S": "ss", "%y": "yy", "%b": "MMM", "%B": "MMMM", "%j": "DDD",
        "%p": "a", "%I": "hh", "%f": "SSSSSS", "%z": "XX", "%Z": "zz",
    }
    out = fmt
    for k, v in table.items():
        out = out.replace(k, v)
    return out


_build_converters()


# ------------------------------------------------------------- expression

def _as_col(v) -> Column:
    if isinstance(v, Column):
        return v
    return F.lit(v)


# converters whose result depends on the VALUE TYPE of the argument — in the
# reference these reflect on pcommon.Value at runtime (func_is_*.go,
# func_len.go); under a fixed Spark schema the type is static per column, so
# they compile to constants / typed dispatch against the bound schema.
_TYPE_PREDICATES = {
    "IsBool": (T.BooleanType,),
    "IsInt": (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    "IsDouble": (T.FloatType, T.DoubleType),
    "IsString": (T.StringType,),
    "IsMap": (T.MapType,),
    "IsList": (T.ArrayType,),
}


def _walk_type(dtype, segs):
    """Descend a DataType along resolved path segments; None = unknown."""
    for s in segs:
        if isinstance(s, tuple) and s[0] == "key":
            if isinstance(dtype, T.MapType):
                dtype = dtype.valueType
            elif isinstance(dtype, T.StructType) and s[1] in dtype.fieldNames():
                dtype = dtype[s[1]].dataType
            else:
                return None
        elif isinstance(dtype, T.StructType) and s in dtype.fieldNames():
            dtype = dtype[s].dataType
        else:
            return None
    return dtype


class Compiler:
    def __init__(self, ctx: LogContext | None = None, schema: T.StructType | None = None):
        self.ctx = ctx or LogContext()
        # bound by statement()/apply_statements (or passed explicitly) —
        # needed only by the type-reflective converters above
        self.schema = schema

    # ------------------------------------------------------ static typing

    def _path_type(self, path: Path):
        if self.schema is None:
            return None
        segs = list(path.segments)
        head = segs.pop(0)
        if head == "resource" and segs and segs[0] == "attributes":
            segs.pop(0)
        name = self.ctx.fields.get(head, head)
        if name not in self.schema.fieldNames():
            return None
        return _walk_type(self.schema[name].dataType, segs)

    def _static_type(self, node):
        if isinstance(node, Literal):
            v = node.value
            if isinstance(v, bool):
                return T.BooleanType()
            if isinstance(v, int):
                return T.LongType()
            if isinstance(v, float):
                return T.DoubleType()
            if isinstance(v, str):
                return T.StringType()
            return None
        if isinstance(node, ListExpr):
            return T.ArrayType(T.StringType())
        if isinstance(node, Enum):
            return T.LongType()
        if isinstance(node, Path):
            return self._path_type(node)
        return None

    def _type_predicate(self, name: str, arg) -> Column:
        t = self._static_type(arg)
        if t is None:
            raise ValueError(
                f"{name}: cannot statically resolve the argument type — bind a "
                f"schema (compile via statement()/apply_statements) and pass a "
                f"path or literal"
            )
        if not isinstance(t, _TYPE_PREDICATES[name]):
            return F.lit(False)
        if isinstance(arg, Path):
            # type matches statically; nil value (absent map key / null
            # column) is ValueTypeEmpty in the reference → false
            return _as_col(self.value(arg)).isNotNull()
        return F.lit(True)

    def _len(self, arg) -> Column:
        """func_len.go: string → rune count, slice/map → element count;
        other types error (→ null under ErrorMode ignore)."""
        t = self._static_type(arg)
        col = _as_col(self.value(arg))
        if isinstance(t, (T.ArrayType, T.MapType)):
            return F.size(col).cast("long")
        if t is None or isinstance(t, (T.StringType, T.BinaryType)):
            return F.length(col).cast("long")
        return F.lit(None).cast("long")

    # values → Column | python literal (literals stay raw so converters can
    # see compile-time constants like regex patterns)
    def value(self, node):
        if isinstance(node, Literal):
            return node.value
        if isinstance(node, Enum):
            try:
                return ENUM_SYMBOLS[node.symbol]
            except KeyError:
                raise ValueError(
                    f"enum symbol not found in log context: {node.symbol!r}"
                ) from None
        if isinstance(node, ListExpr):
            return [self.value(i) for i in node.items]
        if isinstance(node, Path):
            return self.ctx.resolve(node)
        if isinstance(node, Call):
            if node.name in _TYPE_PREDICATES:
                return self._type_predicate(node.name, node.args[0])
            if node.name == "Len":
                return self._len(node.args[0])
            fn = CONVERTERS.get(node.name)
            if fn is None:
                raise ValueError(f"unknown OTTL converter {node.name!r}")
            args = [self.value(a) for a in node.args]
            return fn(*args)
        if isinstance(node, BinOp):
            # time ± duration → time (pkg/ottl/math.go:55-179): a Duration()
            # operand compiles to a day-time interval instead of raw nanos
            if node.op in ("+", "-") and _duration_literal(node.right) is not None:
                ns = _duration_literal(node.right)
                base = _as_col(self.value(node.left))
                iv = F.make_dt_interval(secs=F.lit(ns / 1e9))
                return base + iv if node.op == "+" else base - iv
            l, r = _as_col(self.value(node.left)), _as_col(self.value(node.right))
            return {"+": l + r, "-": l - r, "*": l * r, "/": l / r}[node.op]
        raise ValueError(f"cannot compile value node {node!r}")

    def condition(self, node) -> Column:
        if isinstance(node, Or):
            out = self.condition(node.terms[0])
            for t in node.terms[1:]:
                out = out | self.condition(t)
            return out
        if isinstance(node, And):
            out = self.condition(node.terms[0])
            for t in node.terms[1:]:
                out = out & self.condition(t)
            return out
        if isinstance(node, Not):
            return ~self.condition(node.expr)
        if isinstance(node, Comparison):
            l = self.value(node.left)
            r = self.value(node.right)
            # mismatched-type == → false, != → true (compare.go:19-214):
            # Spark nulls the comparison; coalesce restores OTTL semantics.
            lc, rc = _as_col(l), _as_col(r)
            if node.op == "==":
                return lc.eqNullSafe(rc) if _nullable_cmp(l, r) else (lc == rc)
            if node.op == "!=":
                return ~lc.eqNullSafe(rc) if _nullable_cmp(l, r) else (lc != rc)
            ops = {"<": lc < rc, "<=": lc <= rc, ">": lc > rc, ">=": lc >= rc}
            return ops[node.op]
        # bare value used as boolean (IsMatch(...) etc.)
        v = self.value(node)
        return _as_col(v).cast("boolean")

    # ------------------------------------------------------------- editors

    def statement(
        self, df: DataFrame, stmt: Statement, extra_cond: Column | None = None
    ) -> DataFrame:
        """extra_cond (e.g. a transform-processor group gate) is ANDed with
        the statement's own where-clause."""
        self.schema = df.schema  # bind for type-reflective converters
        cond = self.condition(stmt.condition) if stmt.condition is not None else None
        if extra_cond is not None:
            cond = extra_cond if cond is None else (cond & extra_cond)
        ed = stmt.editor
        name = ed.name

        def guarded(col_name: str, new: Column) -> DataFrame:
            if cond is None:
                return df.withColumn(col_name, new)
            base = F.col(col_name) if col_name in df.columns else F.lit(None)
            return df.withColumn(
                col_name, F.when(F.coalesce(cond, F.lit(False)), new).otherwise(base)
            )

        if name == "set":
            target, value = ed.args
            col_name, key = self.ctx.target(target)
            val = _as_col(self.value(value))
            if key is None:
                return guarded(col_name, val)
            return guarded(col_name, _map_set(F.col(col_name), key, val))

        if name == "delete_key":
            target, key = ed.args
            col_name, _ = self.ctx.target(target)
            k = self.value(key)
            new = F.map_filter(F.col(col_name), lambda kk, _v: kk != F.lit(k))
            return guarded(col_name, new)

        if name == "delete_matching_keys":
            target, pat = ed.args
            col_name, _ = self.ctx.target(target)
            p = _lit_str(self.value(pat))
            new = F.map_filter(F.col(col_name), lambda kk, _v: ~kk.rlike(p))
            return guarded(col_name, new)

        if name == "keep_keys":
            target, keys = ed.args
            col_name, _ = self.ctx.target(target)
            ks = self.value(keys)
            arr = F.array(*[F.lit(k) for k in ks])
            new = F.map_filter(F.col(col_name), lambda kk, _v: F.array_contains(arr, kk))
            return guarded(col_name, new)

        if name == "truncate_all":
            target, n = ed.args
            col_name, _ = self.ctx.target(target)
            limit = _lit_int(self.value(n))
            new = F.transform_values(
                F.col(col_name), lambda _k, v: F.substring(v, 1, limit)
            )
            return guarded(col_name, new)

        if name == "limit":
            target, n, priority = ed.args
            col_name, _ = self.ctx.target(target)
            limit = _lit_int(self.value(n))
            prio = self.value(priority)
            prio_arr = F.array(*[F.lit(p) for p in prio])
            entries = F.map_entries(F.col(col_name))
            keep_p = F.filter(entries, lambda e: F.array_contains(prio_arr, e.key))
            rest = F.filter(entries, lambda e: ~F.array_contains(prio_arr, e.key))
            kept = F.slice(
                F.concat(keep_p, rest), 1, limit
            )
            new = F.map_from_entries(kept)
            return guarded(col_name, new)

        if name == "merge_maps":
            to, frm, mode = ed.args
            to_name, _ = self.ctx.target(to)
            frm_col = _as_col(self.value(frm))
            mode_s = _lit_str(self.value(mode))
            to_col = F.coalesce(
                F.col(to_name), F.create_map().cast("map<string,string>")
            )
            frm_cl = F.coalesce(frm_col, F.create_map().cast("map<string,string>"))
            to_keys = F.map_keys(to_col)
            frm_keys = F.map_keys(frm_cl)
            if mode_s == "insert":  # only keys not already in target
                add = F.map_filter(frm_cl, lambda k, _v: ~F.array_contains(to_keys, k))
                new = F.map_concat(to_col, add)
            elif mode_s == "update":  # only overwrite existing keys
                keep = F.map_filter(to_col, lambda k, _v: ~F.array_contains(frm_keys, k))
                upd = F.map_filter(frm_cl, lambda k, _v: F.array_contains(to_keys, k))
                new = F.map_concat(keep, upd)
            elif mode_s == "upsert":
                keep = F.map_filter(to_col, lambda k, _v: ~F.array_contains(frm_keys, k))
                new = F.map_concat(keep, frm_cl)
            else:
                raise ValueError(f"merge_maps: bad mode {mode_s!r}")
            return guarded(to_name, new)

        if name in ("replace_pattern", "replace_match"):
            target, pat, repl = ed.args[:3]
            col_name, key = self.ctx.target(target)
            p = _lit_str(self.value(pat))
            if name == "replace_match":  # glob → regex
                import re as _re

                p = "^" + _re.escape(p).replace(r"\*", ".*").replace(r"\?", ".") + "$"
            r = _lit_str(self.value(repl))
            if key is None:
                new = F.regexp_replace(F.col(col_name), p, r)
                return guarded(col_name, new)
            cur = F.col(col_name).getItem(key)
            new = _map_set(F.col(col_name), key, F.regexp_replace(cur, p, r))
            return guarded(col_name, new)

        if name in ("replace_all_patterns", "replace_all_matches"):
            target, which, pat, repl = (ed.args + [None])[:4]
            col_name, _ = self.ctx.target(target)
            if name == "replace_all_matches":
                which_s = "value"
                pat, repl = ed.args[1], ed.args[2]
                p = _lit_str(self.value(pat))
                import re as _re

                p = "^" + _re.escape(p).replace(r"\*", ".*").replace(r"\?", ".") + "$"
            else:
                which_s = _lit_str(self.value(which))
                p = _lit_str(self.value(pat))
            r = _lit_str(self.value(repl))
            m = F.col(col_name)
            if which_s == "value":
                new = F.transform_values(m, lambda _k, v: F.regexp_replace(v, p, r))
            else:
                new = F.map_from_entries(
                    F.transform(
                        F.map_entries(m),
                        lambda e: F.struct(
                            F.regexp_replace(e.key, p, r).alias("key"),
                            e.value.alias("value"),
                        ),
                    )
                )
            return guarded(col_name, new)

        if name == "flatten":
            # func_flatten.go: flatten(target, prefix="", depth=unlimited).
            # The record schema keeps attributes as map<string,string>, so a
            # "nested map" is the JSON-object residue string ParseJSON leaves
            # for non-scalar values. Each flatten level parses those one
            # level deeper and splices the children in as dotted keys
            # (a.b → "a.b"); JSON arrays splice as key.<index>
            # (func_flatten.go:74-77). The reference's unlimited default
            # depth becomes a bounded expression unroll (default/max 4
            # levels — each level duplicates the from_json subtree); the
            # reference leaves map-typed SLICE elements verbatim while a
            # later level here may expand them (documented divergence).
            target = ed.args[0]
            prefix = _lit_str(self.value(ed.args[1])) if len(ed.args) > 1 else ""
            depth = _lit_int(self.value(ed.args[2])) if len(ed.args) > 2 else 4
            if depth < 0:
                raise ValueError(f"flatten: depth {depth} cannot be negative")
            col_name, _ = self.ctx.target(target)
            new = F.col(col_name)
            for _ in range(min(depth, 4)):
                new = _flatten_level(new)
            if prefix:
                new = F.map_from_entries(
                    F.transform(
                        F.map_entries(new),
                        lambda e: F.struct(
                            F.concat(F.lit(prefix + "."), e.key).alias("key"),
                            e.value.alias("value"),
                        ),
                    )
                )
            return guarded(col_name, new)

        raise ValueError(f"unknown OTTL editor {name!r}")


def _map_entries_last_win(entries: Column) -> Column:
    """map_from_entries with the reference's upsert semantics: on duplicate
    keys the LAST writer wins (`func_flatten.go` builds the result via
    pcommon.Map.PutEmpty, which overwrites), instead of throwing under
    Spark's default spark.sql.mapKeyDedupPolicy=EXCEPTION — a legal
    reference input like {"a.b": 1, "a": {"b": 2}} must flatten, not crash.
    O(n²) per row in the entry count; attribute maps are small by
    construction."""
    return F.aggregate(
        entries,
        F.create_map().cast("map<string,string>"),
        lambda acc, e: F.map_concat(
            F.map_filter(acc, lambda k, _v: k != e["key"]),
            F.create_map(e["key"], e["value"]),
        ),
    )


def _flatten_level(m: Column) -> Column:
    """One flatten level over map<string,string>: entries whose value is a
    JSON object become child entries keyed key.childkey; JSON arrays become
    key.<i>; scalars pass through. Pure expressions — from_json inside the
    higher-order transform, no Python."""

    def expand(e):
        sub = F.from_json(e.value, "map<string,string>")
        arr = F.from_json(e.value, "array<string>")
        sub_entries = F.transform(
            F.map_entries(sub),
            lambda s: F.struct(
                F.concat(e.key, F.lit("."), s.key).alias("key"),
                s.value.alias("value"),
            ),
        )
        arr_entries = F.transform(
            arr,
            lambda v, i: F.struct(
                F.concat(e.key, F.lit("."), i.cast("string")).alias("key"),
                v.alias("value"),
            ),
        )
        single = F.array(F.struct(e.key.alias("key"), e.value.alias("value")))
        return (
            F.when(sub.isNotNull(), sub_entries)
            .when(arr.isNotNull(), arr_entries)
            .otherwise(single)
        )

    return _map_entries_last_win(F.flatten(F.transform(F.map_entries(m), expand)))


def compile_statement(df: DataFrame, text: str, ctx: LogContext | None = None) -> DataFrame:
    return Compiler(ctx).statement(df, parse_statement(text))


def compile_condition(
    text: str,
    ctx: LogContext | None = None,
    schema: "T.StructType | None" = None,
) -> Column:
    """schema is only needed when the condition uses a type-reflective
    converter (IsMap/IsInt/Len/...) — pass df.schema then."""
    return Compiler(ctx, schema=schema).condition(parse_condition(text))


def _nullable_cmp(l, r) -> bool:
    return isinstance(l, Column) or isinstance(r, Column)


def _duration_literal(node) -> int | None:
    """nanos if node is Duration("<literal>") else None."""
    if (
        isinstance(node, Call)
        and node.name == "Duration"
        and len(node.args) == 1
        and isinstance(node.args[0], Literal)
        and isinstance(node.args[0].value, str)
    ):
        return duration_text_to_ns(node.args[0].value)
    return None


def apply_statements(
    df: DataFrame, statements: list[str], ctx: LogContext | None = None
) -> DataFrame:
    """StatementSequence.Execute (`parser.go:264-278`): statements in order."""
    c = Compiler(ctx)
    for s in statements:
        df = c.statement(df, parse_statement(s))
    return df
