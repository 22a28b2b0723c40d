"""Driver-facing query registry: every operator exposed as a
(spark_callable, duckdb_oracle_sql) pair over the shared parquet tables.

Each Spark query is built from the package's real operators; each oracle is
an INDEPENDENT re-derivation in ANSI SQL (DuckDB dialect) — the golden-file
strategy of the reference (`pkg/golden`, `pkg/pdatatest/plogtest`) recast as
dual-engine equality. Column names/types are aligned pair-wise; doubles are
quantized to integer cents/fixed-point so cross-engine float formatting can
never produce spurious hash mismatches.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
from dataclasses import dataclass
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.hashing import (
    SAMPLER_BUCKETS,
    sampler_bucket_sql,
    word_token_sql,
)
from .functions.severity import attach_severity
from .operators.parse import regex_parser, time_parser
from .operators.router import Route, route_match_once, route_multicast
from .plans.pipeline import enrich_stage
from .session import package_zip
from .sources.render import LINE_PATTERN, render_lines, row_idx_col
from .sources.tokenizer import tokenize_documents

# ---------------------------------------------------------------------------
# shared fixtures: doc-source lookup dim (k8sattributes analog for src0..18;
# src19 deliberately missing → null-enrich path)

TEAMS = ["core", "search", "ads", "infra", "ml"]
REGIONS = ["us", "eu", "ap"]
TIERS = ["prod", "staging", "dev"]
TIER_PCT = {"prod": 100.0, "staging": 50.0, "dev": 25.0}


def doc_lookup_rows() -> list[tuple]:
    rows = []
    for i in range(19):
        tier = TIERS[i % 3]
        rows.append((f"src{i}", TEAMS[i % 5], REGIONS[(i // 3) % 3], tier, TIER_PCT[tier]))
    return rows


def _lookup_values_sql() -> str:
    vals = ", ".join(
        f"('{s}', '{t}', '{r}', '{ti}', {p})" for s, t, r, ti, p in doc_lookup_rows()
    )
    return f"(VALUES {vals}) AS l(source, team, region, tier, sample_pct)"


EPOCH = 1704067200
MONTH = 30 * 86400

# routes over the documents pipeline (routingconnector config analog)
def doc_routes() -> list[Route]:
    return [
        Route("acme", F.col("tier") == "prod"),
        Route("globex", (F.col("region") == "eu") & (F.col("n_tok") > 24)),
    ]


def ensure_shipped(spark: SparkSession) -> None:
    """Make the package importable on Python workers even when the session
    was created by the driver harness (spark-submit --py-files analog)."""
    try:
        spark.sparkContext.addPyFile(package_zip())
    except Exception:
        pass  # already added


def ensure_utc(spark: SparkSession) -> None:
    """Time render/parse must be session-TZ independent (oracles compute UTC
    epochs arithmetically); session.timeZone is a runtime conf."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _work_dir(prefix: str) -> str:
    """A new temp directory for a query's files. The query's frame reads
    them lazily, so the directory is removed when the process exits."""
    work = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    return work


# ---------------------------------------------------------------------------
# Spark-side pipeline over documents (uses the real operators)

def _tokens_of_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tokenize_documents(spark, sf_dir)


def _parsed_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_utc(spark)
    df = _tokens_of_docs(spark, sf_dir)
    df = render_lines(df, out="line")
    df = regex_parser(df, LINE_PATTERN, parse_from="line", on_error="send")
    df = time_parser(df, "ts_str", layout="yyyy-MM-dd'T'HH:mm:ssX", parse_to="ts")
    df = attach_severity(df, "level")
    return (
        df.withColumn("doc_idx", row_idx_col(F.col("doc_id")))
        .withColumn("ts_unix", F.unix_timestamp(F.col("ts")))
    )


def _enriched_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _parsed_docs(spark, sf_dir)
    return enrich_stage(df, spark, lut=doc_lookup_rows())


# shared oracle CTE prefix (DuckDB)
_SQL_BASE = f"""
WITH tok AS (
  SELECT doc_id,
         list_transform(list_filter(str_split_regex(text, '\\s+'), w -> length(w) > 0),
                        w -> {word_token_sql('w')}) AS tokens,
         source
  FROM documents
), base AS (
  SELECT doc_id, tokens, CAST(len(tokens) AS INT) AS n_tok, source,
         (len(tokens) >= 2 AND tokens[2] % 97 = 0) AS malformed,
         ['trace','debug','info','info2','warn','error','fatal'][tokens[1] % 7 + 1] AS level
  FROM tok
), parsed AS (
  SELECT doc_id, tokens, n_tok, source,
         CASE WHEN malformed THEN 'default' ELSE level END AS severity_text,
         CASE WHEN malformed THEN 0 ELSE
           CASE level WHEN 'trace' THEN 1 WHEN 'debug' THEN 5 WHEN 'info' THEN 9
                      WHEN 'info2' THEN 10 WHEN 'warn' THEN 13 WHEN 'error' THEN 17
                      WHEN 'fatal' THEN 21 END
         END AS severity_number,
         CASE WHEN malformed THEN NULL ELSE {EPOCH} + doc_id % {MONTH} END AS ts_unix
  FROM base
), enriched AS (
  SELECT p.*, l.team, l.region, l.tier, l.sample_pct
  FROM parsed p LEFT JOIN {_lookup_values_sql()} USING (source)
)
"""

_ROUTE_CASE = (
    "CASE WHEN tier = 'prod' THEN 'acme' "
    "WHEN region = 'eu' AND n_tok > 24 THEN 'globex' "
    "ELSE 'default' END"
)


# ---------------------------------------------------------------------------
# query registry

@dataclass
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # None → rows-only check


def _q_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _tokens_of_docs(spark, sf_dir)
    return df.select(
        row_idx_col(F.col("doc_id")).alias("doc_id"),
        F.concat_ws(",", F.col("tokens")).alias("tokens_str"),
        F.col("n_tok"),
        F.col("source"),
    )


_SQL_TOKENIZE = _SQL_BASE + """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       array_to_string(tokens, ',') AS tokens_str,
       n_tok, source
FROM base
"""


def _q_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _parsed_docs(spark, sf_dir)
    return df.select(
        F.col("doc_idx").alias("doc_id"),
        "severity_text",
        "severity_number",
        "ts_unix",
        "source",
        "n_tok",
    )


_SQL_PARSE = _SQL_BASE + """
SELECT CAST(doc_id AS BIGINT) AS doc_id, severity_text, severity_number,
       CAST(ts_unix AS BIGINT) AS ts_unix, source, n_tok
FROM parsed
"""


def _q_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _enriched_docs(spark, sf_dir)
    return df.select(
        F.col("doc_idx").alias("doc_id"), "source", "team", "region", "tier"
    )


_SQL_ENRICH = _SQL_BASE + """
SELECT CAST(doc_id AS BIGINT) AS doc_id, source, team, region, tier FROM enriched
"""


def _q_route_match_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _enriched_docs(spark, sf_dir)
    routed = route_match_once(df, doc_routes())
    return routed.select(F.col("doc_idx").alias("doc_id"), "route")


_SQL_ROUTE_ONCE = _SQL_BASE + f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id, {_ROUTE_CASE} AS route FROM enriched
"""


def _q_route_multicast(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _enriched_docs(spark, sf_dir)
    routed = route_multicast(df, doc_routes())
    return routed.select(F.col("doc_idx").alias("doc_id"), "route")


_SQL_ROUTE_MULTI = _SQL_BASE + """
, m AS (
  SELECT doc_id, 'acme' AS route FROM enriched WHERE coalesce(tier = 'prod', FALSE)
  UNION ALL
  SELECT doc_id, 'globex' FROM enriched WHERE coalesce(region = 'eu' AND n_tok > 24, FALSE)
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, route FROM m
UNION ALL
SELECT CAST(doc_id AS BIGINT) AS doc_id, 'default' AS route FROM enriched
WHERE NOT coalesce(tier = 'prod', FALSE)
  AND NOT coalesce(region = 'eu' AND n_tok > 24, FALSE)
"""


def _q_agg_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _enriched_docs(spark, sf_dir)
    routed = route_match_once(df, doc_routes())
    return routed.groupBy("route", "source", "severity_text").agg(
        F.count(F.lit(1)).alias("row_count"),
        F.sum("n_tok").cast("long").alias("token_count"),
    )


_SQL_AGG = _SQL_BASE + f"""
, routed AS (SELECT *, {_ROUTE_CASE} AS route FROM enriched)
SELECT route, source, severity_text,
       COUNT(*) AS row_count, CAST(SUM(n_tok) AS BIGINT) AS token_count
FROM routed GROUP BY route, source, severity_text
"""


def _q_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampler import probabilistic_sample

    df = _enriched_docs(spark, sf_dir)
    kept = probabilistic_sample(
        df, key=F.col("doc_idx"), pct=F.coalesce(F.col("sample_pct"), F.lit(100.0))
    )
    return kept.select(F.col("doc_idx").alias("doc_id"), "source")


_SQL_SAMPLER = _SQL_BASE + f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id, source FROM enriched
WHERE {sampler_bucket_sql("doc_id")} < coalesce(sample_pct, 100.0) * {SAMPLER_BUCKETS} / 100.0
"""


# --- events-based queries (json parse, severity alias, windows, redaction) --

def _q_json_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.select(
        "event_id", F.get_json_object("props", "$.k").cast("int").alias("k")
    )


_SQL_JSON = "SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events"

_EVENT_SEV = [
    ("error", "error", 17),
    ("click", "debug", 5),
    ("view", "trace", 1),
    ("signup", "info", 9),
    ("purchase", "info2", 10),
]


def _q_severity_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    alias = None
    for et, sev, _n in _EVENT_SEV:
        c = F.when(F.col("event_type") == et, sev)
        alias = c if alias is None else alias.when(F.col("event_type") == et, sev)
    ev = ev.withColumn("sev_alias", alias)
    ev = attach_severity(ev, "sev_alias")
    return ev.groupBy("event_type", "severity_text", "severity_number").agg(
        F.count(F.lit(1)).alias("cnt")
    )


_SQL_SEV_EVENTS = """
WITH m AS (
  SELECT event_type,
         CASE event_type WHEN 'error' THEN 'error' WHEN 'click' THEN 'debug'
              WHEN 'view' THEN 'trace' WHEN 'signup' THEN 'info'
              WHEN 'purchase' THEN 'info2' END AS severity_text,
         CASE event_type WHEN 'error' THEN 17 WHEN 'click' THEN 5
              WHEN 'view' THEN 1 WHEN 'signup' THEN 9
              WHEN 'purchase' THEN 10 END AS severity_number
  FROM events
)
SELECT event_type, severity_text, severity_number, COUNT(*) AS cnt
FROM m GROUP BY 1, 2, 3
"""


def _q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id", "user_id", F.row_number().over(w).alias("rn")
    )


_SQL_WINDOW_RANK = """
SELECT event_id, user_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS rn
FROM events
"""


def _q_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cents = F.round(F.col("value") * 100).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id", "user_id", F.sum(cents).over(w).alias("running_cents")
    )


_SQL_RUNNING = """
SELECT event_id, user_id,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) OVER (
         PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING
       ) AS BIGINT) AS running_cents
FROM events
"""


def _q_syslog_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC3164 syslog parse incl. PRI → facility/severity split
    (parser/syslog/parser.go): lines synthesized deterministically from the
    events table, parsed by the native regex engine."""
    from .operators.parse import syslog_parser

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    lines = ev.select(
        "event_id",
        F.concat(
            F.lit("<"), (F.col("event_id") % 192).cast("string"), F.lit(">"),
            F.lit("Feb "), (F.col("event_id") % 28 + 1).cast("string"),
            F.lit(" 13:04:05 host-"), (F.col("event_id") % 7).cast("string"),
            F.lit(" app"), (F.col("event_id") % 3).cast("string"),
            F.lit(": msg "), F.col("event_type"),
        ).alias("line"),
    )
    out = syslog_parser(lines, "line", protocol="rfc3164")
    return out.select(
        "event_id",
        F.col("pri").cast("int").alias("pri"),
        "facility",
        "syslog_severity",
        "host",
        "tag",
        "msg",
    )


_SQL_SYSLOG = """
WITH lines AS (
  SELECT event_id,
         '<' || (event_id % 192) || '>Feb ' || (event_id % 28 + 1)
             || ' 13:04:05 host-' || (event_id % 7) || ' app' || (event_id % 3)
             || ': msg ' || event_type AS line
  FROM events
)
SELECT event_id,
       CAST(event_id % 192 AS INT) AS pri,
       CAST((event_id % 192) // 8 AS INT) AS facility,
       CAST((event_id % 192) % 8 AS INT) AS syslog_severity,
       'host-' || (event_id % 7) AS host,
       'app' || (event_id % 3) AS tag,
       regexp_extract(line, ': (msg .*)$', 1) AS msg
FROM lines
"""


def _q_kv_csv_uri_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """key_value_parser + csv_parser + uri_parser over one synthesized line
    per event (parser/keyvalue, parser/csv, parser/uri) — all three parse
    stages stay inside one codegen'd projection, no Python."""
    from .operators.parse import csv_parser, key_value_parser, uri_parser

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    base = ev.select(
        "event_id",
        F.concat(
            F.lit("user="), F.col("user_id").cast("string"),
            F.lit(" type="), F.col("event_type"),
        ).alias("kvline"),
        F.concat(
            F.col("event_id").cast("string"), F.lit(","),
            F.col("event_type"), F.lit(","),
            F.round(F.col("value") * 100).cast("long").cast("string"),
        ).alias("csvline"),
        F.concat(
            F.lit("https://example.com/ev/"), F.col("event_type"),
            F.lit("?u="), F.col("user_id").cast("string"),
        ).alias("url"),
    )
    out = key_value_parser(base, "kvline", parse_to="kv")
    out = csv_parser(out, "id bigint, et string, cents bigint", "csvline")
    out = uri_parser(out, "url")
    return out.select(
        "event_id",
        F.col("kv").getItem("user").cast("long").alias("kv_user"),
        F.col("kv").getItem("type").alias("kv_type"),
        F.col("parsed.id").alias("csv_id"),
        F.col("parsed.et").alias("csv_et"),
        F.col("parsed.cents").alias("csv_cents"),
        F.col("uri_scheme").alias("scheme"),
        F.col("uri_host").alias("host"),
        F.col("uri_path").alias("path"),
        F.col("uri_query").alias("query"),
    )


_SQL_KV_CSV_URI = """
SELECT event_id,
       CAST(user_id AS BIGINT) AS kv_user,
       event_type AS kv_type,
       CAST(event_id AS BIGINT) AS csv_id,
       event_type AS csv_et,
       CAST(round(value * 100) AS BIGINT) AS csv_cents,
       'https' AS scheme,
       'example.com' AS host,
       '/ev/' || event_type AS path,
       'u=' || user_id AS query
FROM events
"""


def _q_xml_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML parse (func_parse_xml.go analog): one synthesized XML doc per
    event → from_xml struct + an xpath attribute extraction, all JVM-side."""
    from .operators.parse import xml_parser, xml_xpath

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    base = ev.select(
        "event_id",
        F.concat(
            F.lit('<ev sev="s'), (F.col("event_id") % 5).cast("string"),
            F.lit('"><type>'), F.col("event_type"),
            F.lit("</type><cents>"),
            F.round(F.col("value") * 100).cast("long").cast("string"),
            F.lit("</cents></ev>"),
        ).alias("xml"),
    )
    out = xml_parser(base, "type string, cents bigint, _sev string", "xml")
    out = xml_xpath(out, "xml", {"xp_type": "/ev/type"})
    return out.select(
        "event_id",
        F.col("parsed.type").alias("xtype"),
        F.col("parsed.cents").alias("xcents"),
        F.col("parsed._sev").alias("xsev"),
        "xp_type",
    )


_SQL_XML = """
SELECT event_id,
       event_type AS xtype,
       CAST(round(value * 100) AS BIGINT) AS xcents,
       's' || (event_id % 5) AS xsev,
       event_type AS xp_type
FROM events
"""


def _q_ottl_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-reflective OTTL converters over the events table: typed
    ParseJSON (→ map<string,string>), Len over a map, and the Is* predicates
    resolved statically from the bound schema (func_parse_json.go,
    func_len.go, func_is_*.go)."""
    from .ottl.compiler import apply_statements

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = apply_statements(
        ev,
        [
            "set(parsed, ParseJSON(props))",
            'set(kv, parsed["k"])',
            "set(n_props, Len(parsed))",
            "set(props_len, Len(props))",
            "set(props_is_string, IsString(props))",
            "set(value_is_double, IsDouble(value))",
            "set(value_is_int, IsInt(value))",
            "set(parsed_is_map, IsMap(parsed))",
            # flatten editor (func_flatten.go): wrap props one level deeper,
            # parse, flatten with a prefix — nested key k surfaces as f.inner.k
            'set(nested_json, Concat(["{\\"inner\\":", props, "}"], ""))',
            "set(deep, ParseJSON(nested_json))",
            'flatten(deep, "f")',
            'set(flat_k, deep["f.inner.k"])',
        ],
    )
    return out.select(
        "event_id", "kv", "n_props", "props_len",
        "props_is_string", "value_is_double", "value_is_int", "parsed_is_map",
        "flat_k",
    )


_SQL_OTTL_TYPES = """
SELECT event_id,
       json_extract_string(props, '$.k') AS kv,
       CAST(len(json_keys(props)) AS BIGINT) AS n_props,
       CAST(length(props) AS BIGINT) AS props_len,
       props IS NOT NULL AS props_is_string,
       value IS NOT NULL AS value_is_double,
       FALSE AS value_is_int,
       props IS NOT NULL AS parsed_is_map,
       json_extract_string(props, '$.k') AS flat_k
FROM events
"""


def _q_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.redaction import mask_values

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return mask_values(ev, "props", r"[0-9]+", "#").select("event_id", "props")


_SQL_REDACT = "SELECT event_id, regexp_replace(props, '[0-9]+', '#', 'g') AS props FROM events"


# --- recombine, OTTL, windows, joins, sketches, streaming, tail sampling ---


def _q_recombine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.recombine import recombine

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    marked = docs.withColumn(
        "line",
        F.concat(
            F.when(F.col("doc_id") % 5 == 0, F.lit("START ")).otherwise(F.lit("")),
            F.col("text"),
        ),
    )
    out = recombine(marked, "source", "doc_id", "line", r"^START", combine_with=" ")
    return out.select(
        "source", F.col("segment_id"), F.col("n_lines"), F.col("combined")
    )


_SQL_RECOMBINE = """
WITH marked AS (
  SELECT source, doc_id,
         CASE WHEN doc_id % 5 = 0 THEN 'START ' || text ELSE text END AS line
  FROM documents
), seg AS (
  SELECT source, doc_id, line,
         SUM(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END)
           OVER (PARTITION BY source ORDER BY doc_id) AS seg_id
  FROM marked
)
SELECT source, CAST(seg_id AS VARCHAR) AS segment_id,
       COUNT(*) AS n_lines,
       string_agg(line, ' ' ORDER BY doc_id) AS combined
FROM seg GROUP BY source, seg_id
"""


def _marked_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.withColumn(
        "line",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 5 == 4, F.lit(" END")).otherwise(F.lit("")),
        ),
    )


def _q_recombine_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """is_last_entry mode, single-window exclusive prefix sum — the same
    1-shuffle shape as `recombine` (the window's hash(source) exchange also
    satisfies the final groupBy's clustering, so assembly adds no exchange).
    The skew-safe two-level variant is checked separately
    (`recombine_skew`)."""
    from .operators.recombine import recombine

    out = recombine(
        _marked_docs(spark, sf_dir), "source", "doc_id", "line",
        is_last_regex=r"END$", combine_with=" ",
    )
    return out.select("source", "segment_id", "n_lines", "combined")


def _q_recombine_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME segmentation through the skew-safe two-level prefix-sum path
    (skew_chunk): per-chunk boundary counts roll up in a tiny window,
    bounded chunks segment independently, so no task ever sorts more than
    ~chunk rows of a hot source (the generator's 45 % src-hot hazard). Costs
    two extra small exchanges vs the single-window form — that is the skew
    trade, bought deliberately; value-identical output (same oracle)."""
    from .operators.recombine import recombine

    out = recombine(
        _marked_docs(spark, sf_dir), "source", "doc_id", "line",
        is_last_regex=r"END$", combine_with=" ", skew_chunk=64,
    )
    return out.select("source", "segment_id", "n_lines", "combined")


_SQL_RECOMBINE_LAST = """
WITH marked AS (
  SELECT source, doc_id,
         CASE WHEN doc_id % 5 = 4 THEN text || ' END' ELSE text END AS line
  FROM documents
), seg AS (
  SELECT source, doc_id, line,
         COALESCE(SUM(CASE WHEN doc_id % 5 = 4 THEN 1 ELSE 0 END)
           OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS seg_id
  FROM marked
)
SELECT source, CAST(seg_id AS VARCHAR) AS segment_id,
       COUNT(*) AS n_lines,
       string_agg(line, ' ' ORDER BY doc_id) AS combined
FROM seg GROUP BY source, seg_id
"""


def _q_ottl_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end OTTL statement sequence over events — parity evidence for
    the compiler (set/where/not, Int truncation, ConvertCase, SHA256)."""
    from .ottl.compiler import apply_statements

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = apply_statements(
        ev,
        [
            'set(sev, "error") where event_type == "error"',
            'set(sev, "info") where not (event_type == "error")',
            'set(value_cents, Int(value * 100.0))',
            'set(upper_type, ConvertCase(event_type, "upper"))',
            'set(h, SHA256(event_type))',
            # enum literals (grammar.go:238 / ottllog log.go:111-136):
            # assign via enum, compare via enum
            'set(sevnum, SEVERITY_NUMBER_ERROR) where event_type == "error"',
            'set(sevnum, SEVERITY_NUMBER_INFO) where not (event_type == "error")',
            'set(is_warnish, true) where sevnum >= SEVERITY_NUMBER_WARN',
            'set(is_warnish, false) where sevnum < SEVERITY_NUMBER_WARN',
        ],
    )
    return out.select(
        "event_id", "sev", "value_cents", "upper_type", "h", "sevnum", "is_warnish"
    )


_SQL_OTTL_TRANSFORM = """
SELECT event_id,
       CASE WHEN event_type = 'error' THEN 'error' ELSE 'info' END AS sev,
       CAST(trunc(value * 100.0) AS BIGINT) AS value_cents,
       upper(event_type) AS upper_type,
       sha256(event_type) AS h,
       CAST(CASE WHEN event_type = 'error' THEN 17 ELSE 9 END AS BIGINT) AS sevnum,
       CASE WHEN event_type = 'error' THEN 17 ELSE 9 END >= 13 AS is_warnish
FROM events
"""


def _q_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cumulative_to_delta semantics over the events stream per user."""
    from .operators.metrics import cumulative_to_delta

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "cents", F.round(F.col("value") * 100).cast("long")
    )
    out = cumulative_to_delta(ev, ["user_id"], "ts", "cents", out="delta_cents")
    return out.select("event_id", "user_id", "delta_cents")


_SQL_LAG_DELTA = """
SELECT event_id, user_id,
       CAST(round(value*100) AS BIGINT)
         - lag(CAST(round(value*100) AS BIGINT)) OVER (PARTITION BY user_id ORDER BY ts) AS delta_cents
FROM events
"""


def _q_interval_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """intervalprocessor: last value per (user, day)."""
    from .operators.metrics import interval_last

    ensure_utc(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "ts", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    out = interval_last(ev, ["user_id"], "ts", "1 day")
    return out.select(
        F.unix_timestamp("window_start").alias("day_unix"), "user_id", "cents"
    )


_SQL_INTERVAL_LAST = """
WITH ranked AS (
  SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_unix, user_id,
         CAST(round(value*100) AS BIGINT) AS cents,
         ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('day', ts) ORDER BY ts DESC) AS rn
  FROM events
)
SELECT day_unix, user_id, cents FROM ranked WHERE rn = 1
"""


def _q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spanmetrics-style explicit-bound histogram per event_type."""
    from .operators.metrics import histogram_buckets

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = histogram_buckets(ev, ["event_type"], "value", [10.0, 100.0])
    return out.select(
        "event_type",
        "le_10_0",
        "le_100_0",
        "le_inf",
        F.round(F.col("value_sum") * 100).cast("long").alias("sum_cents"),
    )


_SQL_HISTOGRAM = """
SELECT event_type,
       COUNT(CASE WHEN value <= 10.0 THEN 1 END) AS le_10_0,
       COUNT(CASE WHEN value <= 100.0 THEN 1 END) AS le_100_0,
       COUNT(*) AS le_inf,
       CAST(round(SUM(value)*100) AS BIGINT) AS sum_cents
FROM events GROUP BY event_type
"""


def _q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: users who both erred AND purchased (INTERSECT),
    flagged against users who only viewed (EXCEPT)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    err = ev.filter(F.col("event_type") == "error").select("user_id")
    buy = ev.filter(F.col("event_type") == "purchase").select("user_id")
    both = err.intersect(buy)
    only_view = (
        ev.filter(F.col("event_type") == "view").select("user_id").subtract(err)
    )
    return both.withColumn("tag", F.lit("err_and_buy")).unionByName(
        only_view.withColumn("tag", F.lit("view_not_err"))
    )


_SQL_SET_OPS = """
SELECT user_id, 'err_and_buy' AS tag FROM (
  SELECT user_id FROM events WHERE event_type = 'error'
  INTERSECT
  SELECT user_id FROM events WHERE event_type = 'purchase'
)
UNION ALL
SELECT user_id, 'view_not_err' AS tag FROM (
  SELECT user_id FROM events WHERE event_type = 'view'
  EXCEPT
  SELECT user_id FROM events WHERE event_type = 'error'
)
"""


def _q_pretokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style regex pre-tokenization: piece counts + boundary pieces."""
    from .sources.tokenizer import pre_tokenize

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = pre_tokenize(docs)
    return out.select(
        "doc_id",
        F.size("pieces").alias("n_pieces"),
        F.element_at("pieces", 1).alias("first_piece"),
        F.element_at("pieces", -1).alias("last_piece"),
    )


_SQL_PRETOKENIZE = """
WITH p AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]') AS pieces
  FROM documents
)
SELECT doc_id, CAST(len(pieces) AS INT) AS n_pieces,
       pieces[1] AS first_piece, pieces[-1] AS last_piece
FROM p
"""


def _q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (union-tag + carry-forward window, one shuffle):
    each event gets its user's most recent daily checkpoint value. Oracle is
    DuckDB's native ASOF JOIN — independent implementations must agree."""
    from .operators.asof_join import asof_join

    ensure_utc(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "ts", F.round(F.col("value") * 100).cast("long").alias("c")
    )
    daily = ev.groupBy("user_id", F.date_trunc("day", "ts").alias("ts")).agg(
        F.max("c").alias("ckpt")
    )
    out = asof_join(ev, daily, ["user_id"], "ts", ["ckpt"])
    return out.select("event_id", "user_id", F.col("ckpt_asof").alias("ckpt_cents"))


_SQL_ASOF = """
WITH cents AS (
  SELECT event_id, user_id, ts, CAST(round(value*100) AS BIGINT) AS c FROM events
), daily AS (
  SELECT user_id, date_trunc('day', ts) AS ts, MAX(c) AS ckpt
  FROM cents GROUP BY 1, 2
)
SELECT e.event_id, e.user_id, d.ckpt AS ckpt_cents
FROM cents e ASOF LEFT JOIN daily d ON e.user_id = d.user_id AND e.ts >= d.ts
"""


def _q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact P50/P90/P99 per event type (the spanmetrics/summary-metric
    percentile analog, computed exactly instead of sketched). Both engines
    interpolate sorted integer cents with the same lo + frac·(hi−lo) double
    formula, so even the interpolated values are bit-identical."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    p = F.expr(
        "percentile(CAST(round(value*100) AS BIGINT), array(0.5, 0.9, 0.99))"
    )
    return (
        ev.groupBy("event_type")
        .agg(p.alias("p"))
        .select(
            "event_type",
            F.col("p")[0].alias("p50"),
            F.col("p")[1].alias("p90"),
            F.col("p")[2].alias("p99"),
        )
    )


_SQL_PERCENTILES = """
SELECT event_type,
       quantile_cont(CAST(round(value*100) AS BIGINT), 0.5) AS p50,
       quantile_cont(CAST(round(value*100) AS BIGINT), 0.9) AS p90,
       quantile_cont(CAST(round(value*100) AS BIGINT), 0.99) AS p99
FROM events GROUP BY event_type
"""


def _q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup + exact distinct aggregation over the routed pipeline —
    capabilities the reference lacks entirely (SURVEY §2.8) that fall out of
    Catalyst for free."""
    df = _enriched_docs(spark, sf_dir)
    routed = route_match_once(df, doc_routes())
    out = (
        routed.rollup("route", "source")
        .agg(
            F.count(F.lit(1)).alias("row_count"),
            F.countDistinct("severity_text").alias("distinct_sev"),
            F.sum("n_tok").cast("long").alias("token_count"),
        )
    )
    return out.select(
        F.coalesce(F.col("route"), F.lit("<all>")).alias("route"),
        F.coalesce(F.col("source"), F.lit("<all>")).alias("source"),
        "row_count",
        "distinct_sev",
        "token_count",
    )


_SQL_ROLLUP = _SQL_BASE + f"""
, routed AS (SELECT *, {_ROUTE_CASE} AS route FROM enriched)
SELECT coalesce(route, '<all>') AS route,
       coalesce(source, '<all>') AS source,
       COUNT(*) AS row_count,
       COUNT(DISTINCT severity_text) AS distinct_sev,
       CAST(SUM(n_tok) AS BIGINT) AS token_count
FROM routed GROUP BY ROLLUP (route, source)
"""


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user gap sessionization of the events stream (30-min gap)."""
    from .operators.sessionize import session_aggregate

    ensure_utc(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = session_aggregate(ev, ["user_id"], "ts", 1800)
    return out.select(
        "user_id",
        "session_id",
        "n_events",
        F.unix_timestamp("session_start").alias("start_unix"),
        "duration_s",
    )


_SQL_SESSIONIZE = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts) - 1 AS session_id
  FROM flagged
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       COUNT(*) AS n_events,
       CAST(floor(epoch_us(MIN(ts)) / 1000000) AS BIGINT) AS start_unix,
       CAST(floor((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 1000000) AS BIGINT) AS duration_s
FROM sess GROUP BY user_id, session_id
"""


def _q_stream_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming pipeline (availableNow drain through the
    per-route parquet file sink), result read back as a DataFrame.
    Oracle-SQL-expressible result, so the oracle asserts stream ≡ batch."""
    from .streaming.stream_pipeline import run_streaming_to_completion

    ensure_utc(spark)
    ensure_shipped(spark)
    work = _work_dir("stream_q_")
    toks = _tokens_of_docs(spark, sf_dir)
    toks.write.mode("overwrite").parquet(f"{work}/in")
    run_streaming_to_completion(
        spark, f"{work}/in", f"{work}/out",
        lut=doc_lookup_rows(), routes=doc_routes(),
    )
    routed = spark.read.option("basePath", f"{work}/out/data").parquet(
        f"{work}/out/data"
    )
    return routed.select(
        row_idx_col(F.col("doc_id")).alias("doc_id"), "route"
    )


def _q_stream_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window aggregation through Structured Streaming:
    the events table replayed as a multi-trigger file stream, watermarked,
    grouped into 1-day windows per event_type (counts + integer-cents sums),
    drained with availableNow and written per-batch via foreachBatch
    overwrite (complete mode — every window present at the final commit, so
    the result is deterministic and equals the batch/SQL oracle exactly;
    append-mode's closed-window-only emission is exercised separately in
    tests). Mirrors the collector's interval/aggregation processors in the
    streaming regime (SURVEY §2.8)."""
    ensure_utc(spark)
    work = _work_dir("streamwin_q_")
    # watermarks require TIMESTAMP (with tz); parquet ts is NTZ — with the
    # session pinned UTC the cast is value-identical.
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    ev.write.mode("overwrite").parquet(f"{work}/in")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(f"{work}/in")
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents_sum"),
        )
        .select(
            "event_type",
            F.unix_timestamp(F.col("w.start")).alias("day_unix"),
            "n_events",
            "cents_sum",
        )
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{work}/out")

    q = (
        agg.writeStream.outputMode("complete")
        .foreachBatch(write_batch)
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.read.parquet(f"{work}/out")


_SQL_STREAM_WINDOW = """
SELECT event_type,
       CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_unix,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents_sum
FROM events
GROUP BY event_type, date_trunc('day', ts)
"""


def _q_journald_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """journald export-format parse (`pkg/stanza/operator/input/journald/
    input.go:172-214`): ``journalctl -o json`` lines synthesized
    deterministically from the events table, parsed by `journald_parser` —
    timestamp from __REALTIME_TIMESTAMP (µs, removed from body), cursor from
    __CURSOR (kept in body, as the reference does), remaining fields as the
    body map. n_body proves the map semantics (5 synthesized fields − the
    deleted timestamp = 4)."""
    from .operators.parse import journald_parser

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    lines = ev.select(
        "event_id",
        F.concat(
            F.lit('{"__CURSOR":"s=deadbeef;i='), F.col("event_id").cast("string"),
            F.lit('","__REALTIME_TIMESTAMP":"'),
            (F.lit(1700000000000000) + F.col("event_id")).cast("string"),
            F.lit('","PRIORITY":"'), (F.col("event_id") % 8).cast("string"),
            F.lit('","_SYSTEMD_UNIT":"u'), (F.col("event_id") % 5).cast("string"),
            F.lit('.service","MESSAGE":"evt '), F.col("event_type"), F.lit('"}'),
        ).alias("line"),
    )
    out = journald_parser(lines, "line")
    return out.select(
        "event_id",
        "ts_unix_us",
        "cursor",
        F.element_at("body", "PRIORITY").cast("int").alias("priority"),
        F.element_at("body", "_SYSTEMD_UNIT").alias("unit"),
        F.element_at("body", "MESSAGE").alias("message"),
        F.size("body").cast("int").alias("n_body"),
    )


_SQL_JOURNALD = """
WITH lines AS (
  SELECT event_id,
         '{"__CURSOR":"s=deadbeef;i=' || event_id
           || '","__REALTIME_TIMESTAMP":"' || (1700000000000000 + event_id)
           || '","PRIORITY":"' || (event_id % 8)
           || '","_SYSTEMD_UNIT":"u' || (event_id % 5)
           || '.service","MESSAGE":"evt ' || event_type || '"}' AS line
  FROM events
)
SELECT event_id,
       CAST(json_extract_string(line, '$.__REALTIME_TIMESTAMP') AS BIGINT) AS ts_unix_us,
       json_extract_string(line, '$.__CURSOR') AS cursor,
       CAST(json_extract_string(line, '$.PRIORITY') AS INT) AS priority,
       json_extract_string(line, '$._SYSTEMD_UNIT') AS unit,
       json_extract_string(line, '$.MESSAGE') AS message,
       CAST(len(json_keys(line)) - 1 AS INT) AS n_body
FROM lines
"""


def _q_wineventlog_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windows Event Log rendered-XML parse (`input/windows/xml.go`): event
    XML synthesized deterministically from the events table — even event_ids
    carry RenderingInfo (rendered level/message win, xml.go:82-90), odd ones
    only the numeric System Level (fallback mapping 1/2/3/4 →
    FATAL/ERROR/WARN/INFO, xml.go:63-77). EventData Data[@Name] pairs → map."""
    from .operators.parse import wineventlog_parser

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    lvl = (F.col("event_id") % 6).cast("string")
    rendered_level = (
        F.when(F.col("event_id") % 6 == 1, "Critical")
        .when(F.col("event_id") % 6 == 2, "Error")
        .when(F.col("event_id") % 6 == 3, "Warning")
        .when(F.col("event_id") % 6 == 4, "Information")
        .otherwise("Verbose")
    )
    rendering = F.when(
        F.col("event_id") % 2 == 0,
        F.concat(
            F.lit("<RenderingInfo Culture=\"en-US\"><Message>msg "),
            F.col("event_type"),
            F.lit("</Message><Level>"), rendered_level, F.lit("</Level></RenderingInfo>"),
        ),
    ).otherwise(F.lit(""))
    xml = F.concat(
        F.lit('<Event xmlns="http://schemas.microsoft.com/win/2004/08/events/event"><System>'),
        F.lit('<Provider Name="prov-'), (F.col("event_id") % 4).cast("string"), F.lit('"/>'),
        F.lit('<EventID Qualifiers="16384">'), (F.col("event_id") % 100).cast("string"), F.lit("</EventID>"),
        F.lit("<Level>"), lvl, F.lit("</Level>"),
        F.lit('<TimeCreated SystemTime="2024-01-02T03:04:0'), (F.col("event_id") % 10).cast("string"), F.lit('Z"/>'),
        F.lit("<EventRecordID>"), F.col("event_id").cast("string"), F.lit("</EventRecordID>"),
        F.lit("<Channel>Application</Channel><Computer>host-"), (F.col("event_id") % 7).cast("string"),
        F.lit("</Computer></System><EventData>"),
        F.lit('<Data Name="k1">v'), (F.col("event_id") % 7).cast("string"), F.lit("</Data>"),
        F.lit('<Data Name="k2">x</Data></EventData>'),
        rendering,
        F.lit("</Event>"),
    )
    lines = ev.select("event_id", xml.alias("line"))
    out = wineventlog_parser(lines, "line")
    return out.select(
        "event_id",
        F.unix_timestamp("ts").alias("ts_unix"),
        "record_id",
        F.col("event_id_win").alias("win_event_id"),
        "qualifiers",
        "provider",
        "computer",
        "channel",
        "level",
        "severity_text",
        "message",
        F.element_at("event_data", "k1").alias("k1"),
    )


_SQL_WINEVENTLOG = """
SELECT event_id,
       CAST(epoch(TIMESTAMP '2024-01-02 03:04:00') + (event_id % 10) AS BIGINT) AS ts_unix,
       event_id AS record_id,
       event_id % 100 AS win_event_id,
       CAST(16384 AS INT) AS qualifiers,
       'prov-' || (event_id % 4) AS provider,
       'host-' || (event_id % 7) AS computer,
       'Application' AS channel,
       CASE WHEN event_id % 2 = 0 THEN
         CASE event_id % 6 WHEN 1 THEN 'Critical' WHEN 2 THEN 'Error'
              WHEN 3 THEN 'Warning' WHEN 4 THEN 'Information' ELSE 'Verbose' END
       ELSE CAST(event_id % 6 AS VARCHAR) END AS level,
       CASE WHEN event_id % 2 = 0 THEN
         CASE event_id % 6 WHEN 1 THEN 'FATAL' WHEN 2 THEN 'ERROR'
              WHEN 3 THEN 'WARN' WHEN 4 THEN 'INFO' ELSE 'DEFAULT' END
       ELSE
         CASE event_id % 6 WHEN 1 THEN 'FATAL' WHEN 2 THEN 'ERROR'
              WHEN 3 THEN 'WARN' WHEN 4 THEN 'INFO' ELSE 'DEFAULT' END
       END AS severity_text,
       CASE WHEN event_id % 2 = 0 THEN 'msg ' || event_type ELSE '' END AS message,
       'v' || (event_id % 7) AS k1
FROM events
"""


def _q_tail_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tail-based sampling (processor/tailsamplingprocessor) over user-hour
    traces of the events stream: five policies — invert string filter
    (traces containing a signup are vetoed), status-code analog (any error
    event), latency ≥ 10 min, AND(numeric value band, span_count ≥ 3),
    deterministic 25% probabilistic — combined with the reference's
    makeDecision precedence (processor.go:281-291)."""
    from .operators import tailsampling as tsamp

    ensure_utc(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "trace_key",
        (F.col("user_id") * F.lit(10_000_000)
         + F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 3_600_000_000)
         ).cast("long"),
    )
    pol = [
        tsamp.string_attr("nosignup", "event_type", ["signup"], invert=True),
        tsamp.status_code("err", "event_type", ["error"]),
        tsamp.latency("slow", 600_000),
        tsamp.and_("hot3", [
            tsamp.numeric_attr("hot", "value", 150, 200),
            tsamp.span_count("n3", 3),
        ]),
        tsamp.probabilistic("prob", 25.0, seed=7),
    ]
    out = tsamp.trace_decisions(ev, "trace_key", "ts", pol)
    return out.select(
        "trace_key",
        F.col("n_spans").cast("long").alias("n_spans"),
        F.col("duration_ms").cast("long").alias("duration_ms"),
        "d_nosignup", "d_err", "d_slow", "d_hot3", "d_prob", "sampled",
    )


_SQL_TAIL_SAMPLE = f"""
WITH agg AS (
  SELECT user_id * 10000000 + (epoch_us(ts) // 3600000000) AS trace_key,
         COUNT(*) AS n_spans,
         (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000 AS duration_ms,
         MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS f_signup,
         MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS f_err,
         MAX(CASE WHEN value BETWEEN 150 AND 200 THEN 1 ELSE 0 END) AS f_hot
  FROM events GROUP BY 1
), dec AS (
  SELECT trace_key, n_spans, duration_ms,
         CASE WHEN f_signup = 1 THEN 3 ELSE 2 END AS d_nosignup,
         CASE WHEN f_err = 1 THEN 1 ELSE 0 END AS d_err,
         CASE WHEN duration_ms >= 600000 THEN 1 ELSE 0 END AS d_slow,
         CASE WHEN f_hot = 1 AND n_spans >= 3 THEN 1 ELSE 0 END AS d_hot3,
         CASE WHEN {{bucket}} < 25.0 * {SAMPLER_BUCKETS} / 100.0
              THEN 1 ELSE 0 END AS d_prob
  FROM agg
)
SELECT trace_key,
       CAST(n_spans AS BIGINT) AS n_spans,
       CAST(duration_ms AS BIGINT) AS duration_ms,
       d_nosignup, d_err, d_slow, d_hot3, d_prob,
       CASE WHEN d_nosignup = 3 THEN 0
            WHEN d_err = 1 OR d_slow = 1 OR d_hot3 = 1 OR d_prob = 1 THEN 1
            WHEN d_nosignup = 2
                 AND d_err = 1 AND d_slow = 1 AND d_hot3 = 1 AND d_prob = 1
                 THEN 1
            ELSE 0 END AS sampled
FROM dec
""".format(bucket=sampler_bucket_sql("trace_key", 7))


_RJ_BIN_S = 120  # range-join bin width (seconds)


def _q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval containment join without a nested-loop plan: maintenance
    windows (every 101st event opens [ts, ts + (id%7+1) minutes)) explode
    to the 2-minute bins they overlap, points map to their ONE bin, and
    the match is an equi-join on bin + residual filter — each (point,
    interval) pair is produced exactly once by construction. The oracle is
    DuckDB's native inequality join over the same windows."""
    from .operators.joins import range_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ensure_utc(spark)
    pts = ev.select("event_id", F.unix_timestamp("ts").alias("ts_s"))
    ivs = (
        ev.filter(F.col("event_id") % 101 == 0)
        .select(
            F.col("event_id").alias("iv_id"),
            F.unix_timestamp("ts").alias("start_s"),
            (F.unix_timestamp("ts") + (F.col("event_id") % 7 + 1) * 60).alias("end_s"),
        )
    )
    out = range_join(pts, ivs, "ts_s", "start_s", "end_s", bin_width=_RJ_BIN_S)
    return out.select("event_id", "ts_s", "iv_id", "start_s", "end_s")


_SQL_RANGE_JOIN = """
WITH pts AS (
  SELECT event_id, epoch_us(ts) // 1000000 AS ts_s FROM events
), ivs AS (
  SELECT event_id AS iv_id,
         epoch_us(ts) // 1000000 AS start_s,
         epoch_us(ts) // 1000000 + (event_id % 7 + 1) * 60 AS end_s
  FROM events WHERE event_id % 101 = 0
)
SELECT p.event_id, p.ts_s, i.iv_id, i.start_s, i.end_s
FROM pts p JOIN ivs i ON i.start_s <= p.ts_s AND p.ts_s < i.end_s
"""


_CMS_KEYS = 200


def _q_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch vs ground truth over the corpus token stream:
    build the d×w sketch in one bounded groupBy, estimate the first 200
    token ids, and join the exact counts — est ≥ true always (collisions
    only add), and the sketch is deterministic given mix32, so DuckDB
    replays every counter exactly."""
    from .operators.sketches import cms_build, cms_estimate

    toks = _tokens_of_docs(spark, sf_dir)
    stream = toks.select(F.explode("tokens").alias("token"))
    sketch = cms_build(stream, "token")
    keys = spark.range(_CMS_KEYS).select(F.col("id").cast("int").alias("token"))
    est = cms_estimate(keys, sketch, "token")
    true = (
        stream.filter(F.col("token") < _CMS_KEYS)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
    )
    return (
        est.join(true, on="token", how="left")
        .select(
            "token",
            "est",
            F.coalesce("true_cnt", F.lit(0)).cast("long").alias("true_cnt"),
        )
    )


def _cms_sql() -> str:
    from .functions.hashing import mix32_sql
    from .operators.sketches import CMS_DEPTH, CMS_WIDTH

    probes = ", ".join(
        f"({mix32_sql('token', seed=r + 1)} % {CMS_WIDTH})" for r in range(CMS_DEPTH)
    )
    return _SQL_BASE + f"""
, stream AS (
  SELECT UNNEST(tokens) AS token FROM base
), probed AS (
  SELECT token, UNNEST(range({CMS_DEPTH})) AS r,
         UNNEST([{probes}]) AS bucket
  FROM stream
), sketch AS (
  SELECT r, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM probed GROUP BY r, bucket
), keys AS (
  SELECT CAST(range AS INT) AS token FROM range({_CMS_KEYS})
), kprobed AS (
  SELECT token, UNNEST(range({CMS_DEPTH})) AS r,
         UNNEST([{probes}]) AS bucket
  FROM keys
), est AS (
  SELECT k.token, MIN(COALESCE(s.cnt, 0)) AS est
  FROM kprobed k LEFT JOIN sketch s ON s.r = k.r AND s.bucket = k.bucket
  GROUP BY k.token
)
SELECT e.token, e.est,
       CAST(COALESCE(t.c, 0) AS BIGINT) AS true_cnt
FROM est e LEFT JOIN (
  SELECT token, COUNT(*) AS c FROM stream WHERE token < {_CMS_KEYS} GROUP BY token
) t ON t.token = e.token
"""


_SQL_CMS = _cms_sql()


def _q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII masking over free text (redactionprocessor's blocked-value regex
    masking, `processor/redactionprocessor/processor.go:139-166`, lifted to
    the document domain): lines with deterministic email / card / ssn / ip /
    phone values synthesized from the events table, per-kind match counts
    plus the fully masked text. Pure regexp column expressions — the scrub
    fuses into the scan (0 shuffles)."""
    from .operators.pii import pii_scrub

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    d4 = F.lpad((F.col("event_id") % 10000).cast("string"), 4, "0")
    line = F.concat(
        F.lit("user u"), (F.col("event_id") % 97).cast("string"),
        F.lit("@example.com from 10."), (F.col("event_id") % 256).cast("string"),
        F.lit(".0."), (F.col("event_id") % 250).cast("string"),
        F.lit(" card 4111-1111-1111-"), d4,
        F.lit(" ssn 123-45-"), d4,
        F.lit(" call +1 555-010-"), d4,
        F.lit(" evt "), F.col("event_type"),
    )
    df = ev.select("event_id", line.alias("text"))
    out = pii_scrub(df, "text")
    return out.select(
        "event_id", "text", "n_email", "n_card", "n_ssn", "n_ipv4", "n_phone"
    )


def _pii_sql() -> str:
    from .operators.pii import PII_PATTERNS, pii_scrub_sql

    counts = ",\n         ".join(
        f"CAST(len(regexp_extract_all(text, '{PII_PATTERNS[k]}')) AS INT) AS n_{k}"
        for k in PII_PATTERNS
    )
    return f"""
WITH lines AS (
  SELECT event_id,
         'user u' || (event_id % 97) || '@example.com from 10.' || (event_id % 256)
           || '.0.' || (event_id % 250)
           || ' card 4111-1111-1111-' || lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0')
           || ' ssn 123-45-' || lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0')
           || ' call +1 555-010-' || lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0')
           || ' evt ' || event_type AS text
  FROM events
), cnt AS (
  SELECT event_id, text,
         {counts}
  FROM lines
)
SELECT event_id, {pii_scrub_sql('text')} AS text,
       n_email, n_card, n_ssn, n_ipv4, n_phone
FROM cnt
"""


_SQL_PII_SCRUB = _pii_sql()


def _q_hll_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog distinct-token estimate per source:
    rotate-multiply mixed registers (integer CASE bit-length, no floats),
    fixed-point harmonic sum, one integer DIV estimator plus an integer-
    table linear-counting correction. Register state is O(sources × 64)
    regardless of vocab, vs the exact distinct's vocab-sized shuffle —
    the cardinality-audit sketch beside cms_counts."""
    from .operators.sketches import hll_estimate, hll_registers

    toks = _tokens_of_docs(spark, sf_dir).select(
        "source", F.explode("tokens").alias("token")
    )
    regs = hll_registers(toks, "token", group_cols=("source",))
    return hll_estimate(regs, group_cols=("source",))


def _hll_sql() -> str:
    from .operators.sketches import (
        _HLL_ALPHA_DEN,
        _HLL_ALPHA_NUM,
        _HLL_LC_THRESHOLD,
        _HLL_VBITS,
        HLL_BUCKETS,
        bitlen_case_sql,
        hll_mix_steps,
        lc_case_sql,
    )

    m = HLL_BUCKETS
    top = 1 << (_HLL_VBITS + 1)
    num = _HLL_ALPHA_NUM * m * m * top
    lc_thresh = _HLL_LC_THRESHOLD
    lc_case = lc_case_sql("n_zero")
    # Mixer as chained CTEs (one per step) — same stepwise shape as the
    # Spark side's chained selects; textual nesting would grow 4^7×.
    steps = hll_mix_steps(seed=1, div="//")
    mix_ctes = ", hm0 AS (SELECT source, UNNEST(tokens) AS x FROM base)\n"
    prev = "hm0"
    for i, step in enumerate(steps, start=1):
        mix_ctes += f", hm{i} AS (SELECT source, {step} AS x FROM {prev})\n"
        prev = f"hm{i}"
    rho = f"({_HLL_VBITS + 1} - {bitlen_case_sql(f'(x % {1 << _HLL_VBITS})')})"
    return _SQL_BASE + mix_ctes + f"""
, hll_reg AS (
  SELECT source, CAST(x // {1 << _HLL_VBITS} AS INT) AS bucket,
         CAST(MAX({rho}) AS INT) AS reg
  FROM {prev} GROUP BY source, bucket
), hll_s AS (
  SELECT source, CAST({m} - COUNT(*) AS INT) AS n_zero,
         CAST(SUM(CAST(1 AS BIGINT) << ({_HLL_VBITS + 1} - reg))
              + ({m} - COUNT(*)) * CAST({top} AS BIGINT) AS BIGINT) AS sum_fp
  FROM hll_reg GROUP BY source)
, hll_raw AS (
  SELECT source, n_zero, sum_fp,
         CAST(CAST({num} AS BIGINT) // ({_HLL_ALPHA_DEN} * sum_fp) AS BIGINT) AS est_raw
  FROM hll_s)
SELECT source, n_zero, sum_fp, est_raw,
       CAST(CASE WHEN est_raw <= {lc_thresh} AND n_zero > 0
                 THEN {lc_case} ELSE est_raw END AS BIGINT) AS est
FROM hll_raw
"""


_SQL_HLL = _hll_sql()


def _q_expo_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OTel exponential histogram (scale 0, base-2) of token counts per
    severity: bucket k = bit_length(v-1)-1, integer-exact (no libm log2),
    the OTLP ExponentialHistogram data-model bucketing the reference's
    deltatocumulative path carries. Bucket-bounded exchange."""
    from .operators.metrics import expo_histogram

    df = _parsed_docs(spark, sf_dir).select("severity_text", "n_tok")
    return expo_histogram(df, ["severity_text"], "n_tok")


def _expo_hist_sql() -> str:
    from .operators.sketches import bitlen_case_sql

    bl = bitlen_case_sql("(n_tok - 1)", bits=40)
    return _SQL_BASE + f"""
SELECT severity_text,
       CAST(CASE WHEN n_tok <= 0 THEN -99 ELSE {bl} - 1 END AS INT) AS bucket_idx,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(MIN(n_tok) AS BIGINT) AS bucket_min,
       CAST(MAX(n_tok) AS BIGINT) AS bucket_max
FROM parsed GROUP BY severity_text, bucket_idx
"""


_SQL_EXPO_HIST = _expo_hist_sql()


# ---------------------------------------------------------------------------
# round 5: exporter wire-format parity (kafkaexporter + fileexporter proto)

def _flat_log_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic flat OTLP log records synthesized from the events
    table — the record shape `read_otlp_json` yields, used by the
    exporter-marshaling queries so every byte is oracle-replayable."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    hexid = F.lower(F.conv(F.col("event_id").cast("string"), 10, 16))
    return ev.select(
        "event_id",
        (
            (F.lit(1704067200) + F.col("event_id") % 86400).cast("long")
            * F.lit(1_000_000_000)
        ).alias("time_unix_nano"),
        (F.col("event_id") % 24 + 1).cast("int").alias("severity_number"),
        F.col("event_type").alias("severity_text"),
        F.concat(
            F.lit("evt <"), F.col("event_id").cast("string"),
            F.lit("> "), F.col("event_type"),
        ).alias("body"),
        F.create_map(
            F.lit("k"), (F.col("event_id") % 5).cast("string")
        ).alias("attributes"),
        F.create_map(
            F.lit("service.name"),
            F.concat(F.lit("svc"), (F.col("event_id") % 3).cast("string")),
        ).alias("resource"),
        F.lit("recv/otlp").alias("scope_name"),
        F.lpad(hexid, 32, "0").alias("trace_id"),
        F.lpad(hexid, 16, "0").alias("span_id"),
    )


def _q_kafka_raw_marshal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kafkaexporter ``encoding: raw``: one message per log record, value =
    Go ``json.Marshal`` of the body incl. its HTML escaping of ``<>&``
    (`exporter/kafkaexporter/raw_marshaler.go:24-71`). The oracle rebuilds
    the exact bytes with string replaces, so the marshaled value is
    value-checked per row."""
    from .operators.kafka_exporter import kafka_messages

    ensure_shipped(spark)
    msgs = kafka_messages(
        _flat_log_records(spark, sf_dir).drop("event_id"),
        "otel-logs",
        encoding="raw",
    )
    return msgs.select(
        "topic", F.col("value").cast("string").alias("value_str")
    )


_SQL_KAFKA_RAW = """
SELECT 'otel-logs' AS topic,
       '"' || replace(replace(replace(
           'evt <' || event_id || '> ' || event_type,
           '&', '\\u0026'), '<', '\\u003c'), '>', '\\u003e') || '"' AS value_str
FROM events
"""

_FLAT_ORACLE_COLS = """
       CAST((1704067200 + event_id % 86400) * 1000000000 AS BIGINT) AS time_unix_nano,
       CAST(event_id % 24 + 1 AS INT) AS severity_number,
       event_type AS severity_text,
       'evt <' || event_id || '> ' || event_type AS body,
       CAST(event_id % 5 AS VARCHAR) AS attr_k,
       'svc' || (event_id % 3) AS service_name,
       'recv/otlp' AS scope_name,
       lpad(lower(to_hex(event_id)), 32, '0') AS trace_id,
       lpad(lower(to_hex(event_id)), 16, '0') AS span_id
"""


def _q_file_proto_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fileexporter ``format: proto`` + ``compression: zstd`` round trip:
    marshal flat records with the pure-Python plog wire codec, write
    4-byte-BE length-framed zstd'd messages with size-based rotation
    (`exporter/fileexporter/file_writer.go:40-50`, lumberjack), then READ
    THE FILES BACK and return per-row values — the oracle is the original
    record set, so framing+codec+rotation must be lossless to pass.
    ``max_bytes`` forces several rotated parts per writer task;
    ``max_backups`` is explicitly unbounded — pruning DELETES data by
    design (lumberjack retention), and a round-trip oracle must keep
    every part at any scale factor."""
    from .operators.file_exporter import read_otlp_proto, write_otlp_proto

    ensure_shipped(spark)
    work = _work_dir("proto_sink_q_")
    flat = _flat_log_records(spark, sf_dir).drop("event_id").repartition(4)
    write_otlp_proto(
        flat, work, compression="zstd", batch_records=512,
        max_bytes=64 * 1024, max_backups=10**9,
    ).collect()
    # the directory, not a glob: Spark's check for a streaming-sink log
    # under a glob path logs a FileNotFoundException; only parts are in it
    back = read_otlp_proto(spark, work, compression="zstd")
    return back.select(
        "time_unix_nano",
        "severity_number",
        "severity_text",
        "body",
        F.col("attributes")["k"].alias("attr_k"),
        F.col("resource")["service.name"].alias("service_name"),
        "scope_name",
        "trace_id",
        "span_id",
    )


_SQL_FILE_PROTO = f"SELECT {_FLAT_ORACLE_COLS} FROM events"


def _q_kafka_otlp_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kafkaexporter ``encoding: otlp_json``: marshal one plog JSON message
    per (resource, scope) group (`pdata_marshaler.go:21-32`), then parse
    the message VALUES back through the otlpjson reader's flatten — the
    oracle is the original record set, so the grouping + JSON assembly is
    value-checked end-to-end (uint64 nanos ride as strings per the
    protobuf JSON mapping)."""
    from .operators.kafka_exporter import kafka_messages
    from .sources.readers import parse_otlp_json

    ensure_utc(spark)
    msgs = kafka_messages(
        _flat_log_records(spark, sf_dir).drop("event_id"),
        "otel-logs",
        encoding="otlp_json",
    )
    back = parse_otlp_json(msgs, json_col="value")
    return back.select(
        F.unix_timestamp(F.col("ts")).cast("long").alias("ts_unix"),
        "severity_number",
        "severity_text",
        "body",
        F.col("attributes")["k"].alias("attr_k"),
        F.col("resource")["service.name"].alias("service_name"),
        "scope_name",
        "trace_id",
        "span_id",
    )


_SQL_KAFKA_OTLP_JSON = """
SELECT CAST(1704067200 + event_id % 86400 AS BIGINT) AS ts_unix,
       CAST(event_id % 24 + 1 AS INT) AS severity_number,
       event_type AS severity_text,
       'evt <' || event_id || '> ' || event_type AS body,
       CAST(event_id % 5 AS VARCHAR) AS attr_k,
       'svc' || (event_id % 3) AS service_name,
       'recv/otlp' AS scope_name,
       lpad(lower(to_hex(event_id)), 32, '0') AS trace_id,
       lpad(lower(to_hex(event_id)), 16, '0') AS span_id
FROM events
"""


def _q_kafka_receive_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kafkareceiver ``encoding: otlp_proto`` (the default,
    `receiver/kafkareceiver/unmarshaler.go:75-93`): marshal flat records
    into producer messages with the exporter half
    (`pdata_marshaler.go:21-43`), then unmarshal the message VALUES back
    through the receiver half — plog wire bytes are the only carrier, so
    the oracle (the original record set) value-checks BOTH directions of
    the proto codec plus the (resource, scope) message grouping."""
    from .operators.kafka_exporter import kafka_messages
    from .sources.kafka_receiver import kafka_log_records

    ensure_shipped(spark)
    flat = _flat_log_records(spark, sf_dir).drop("event_id")
    msgs = kafka_messages(flat, "otel-logs", encoding="otlp_proto")
    back = kafka_log_records(msgs, "otlp_proto")
    return back.select(
        "time_unix_nano",
        "severity_number",
        "severity_text",
        "body",
        F.col("attributes")["k"].alias("attr_k"),
        F.col("resource")["service.name"].alias("service_name"),
        "scope_name",
        "trace_id",
        "span_id",
    )


_SQL_KAFKA_RECEIVE = f"SELECT {_FLAT_ORACLE_COLS} FROM events"


def _q_fluent_receive_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fluentforward receiver (`receiver/fluentforwardreceiver`): encode
    the events table into forward-protocol event streams — all three
    carrier modes by event_id % 3 (message / forward / gzip'd
    packedforward, the modes `server.go:140-202` detects by peeking the
    second array element), EventTime ext timestamps on the message-mode
    rows (`timeext.go:35-43`), int-seconds on the rest — then decode the
    streams back through ``fluent_log_records``. The oracle recomputes
    every field straight from the table, so the msgpack codec, the mode
    framing, the deterministic gzip member, EventTime nanos, and the
    message/log→body rule (`conversion.go:171-176`) are value-checked in
    both directions. Stream assembly is ONE bounded exchange (events per
    (type, mode, shard) group); the decode itself is zero-shuffle."""
    import pandas as pd

    from .sources.fluentforward import (
        EventTime,
        encode_event,
        fluent_log_records,
    )

    ensure_shipped(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id",
        "event_type",
        (F.col("event_id") % 3).alias("mode_i"),
        (F.col("event_id") % 7).alias("grp"),
    )

    def to_events(key, pdf):
        event_type, mode_i, _grp = key
        tag = f"app.{event_type}"
        pdf = pdf.sort_values("event_id")
        entries = []
        for eid in pdf["event_id"]:
            eid = int(eid)
            sec = 1704067200 + eid % 86400
            rec = {
                "log": f"evt <{eid}> {event_type}",
                "k": str(eid % 5),
                "n": eid,
            }
            ts = (
                EventTime(sec, (eid * 7919) % 1_000_000_000)
                if mode_i == 0
                else sec
            )
            entries.append((ts, rec))
        if mode_i == 0:
            blobs = [
                encode_event(tag, [e], mode="message") for e in entries
            ]
        elif mode_i == 1:
            blobs = [encode_event(tag, entries, mode="forward")]
        else:
            blobs = [
                encode_event(
                    tag, entries, mode="packedforward", compressed=True
                )
            ]
        return pd.DataFrame({"value": blobs})

    streams = ev.groupBy("event_type", "mode_i", "grp").applyInPandas(
        to_events, "value binary"
    )
    back = fluent_log_records(streams)
    return back.select(
        "tag",
        "time_unix_nano",
        "body",
        F.col("attributes")["k"].alias("attr_k"),
        F.col("attributes")["n"].alias("attr_n"),
    )


_SQL_FLUENT_RECEIVE = """
SELECT 'app.' || event_type AS tag,
       CAST(1704067200 + event_id % 86400 AS BIGINT) * 1000000000
         + CASE WHEN event_id % 3 = 0
                THEN (event_id * 7919) % 1000000000 ELSE 0 END
         AS time_unix_nano,
       'evt <' || event_id || '> ' || event_type AS body,
       CAST(event_id % 5 AS VARCHAR) AS attr_k,
       CAST(event_id AS VARCHAR) AS attr_n
FROM events
"""


def _q_k8s_dynamic_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k8sattributes DYNAMIC store (watch-fed,
    `processor/k8sattributesprocessor/internal/kube/client.go:373`): two
    availableNow drains of a streaming enrich with a LUT MUTATION between
    them — wave-1 rows (even event_id) must carry v1 metadata, wave-2 rows
    v2, per row. foreachBatch re-reads + re-broadcasts the store every
    micro-batch (`streaming/dynamic_enrich.py`); the engine checkpoint
    makes drain 2 process only the new files (exactly-once resume)."""
    from .streaming.dynamic_enrich import run_dynamic_enrich

    ensure_utc(spark)
    work = _work_dir("k8s_dyn_q_")
    inp, lut, out = f"{work}/in", f"{work}/lut", f"{work}/out"
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id",
        F.concat(F.lit("src"), (F.col("event_id") % 19).cast("string")).alias(
            "source"
        ),
    )
    lut_schema = "source string, team string"

    def write_lut(version: str) -> None:
        rows = [(f"src{i}", f"team{i % 5}-{version}") for i in range(19)]
        spark.createDataFrame(rows, lut_schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(lut)

    schema = ev.schema
    # wave 1 (even ids) lands, store holds v1
    ev.where(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(inp)
    write_lut("v1")
    run_dynamic_enrich(spark, inp, lut, out, schema=schema)
    # the watch fires: store mutates to v2, THEN wave 2 (odd ids) arrives
    write_lut("v2")
    ev.where(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(inp)
    run_dynamic_enrich(spark, inp, lut, out, schema=schema)
    return spark.read.parquet(f"{out}/data").select(
        "event_id", "source", "team"
    )


_SQL_K8S_DYNAMIC = """
SELECT event_id,
       'src' || (event_id % 19) AS source,
       'team' || ((event_id % 19) % 5)
           || CASE WHEN event_id % 2 = 0 THEN '-v1' ELSE '-v2' END AS team
FROM events
"""


def _q_es_bulk_marshal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """elasticsearchexporter default-config bulk bytes: mapping mode
    "none", dedup+dedot on (`factory.go:55-59`) → sorted keys, nested
    objects, nine-digit @timestamp; each record ships as the two NDJSON
    lines ``{"create":{"_index":...}}`` + document
    (`elasticsearch_bulk.go:190`, `model.go:94-120`). The oracle rebuilds
    the exact bytes with string concatenation — incl. the all-zero
    trace/span omission rule exercised by event_id 0."""
    from .operators.es_exporter import es_bulk_messages

    ensure_shipped(spark)
    msgs = es_bulk_messages(_flat_log_records(spark, sf_dir).drop("event_id"))
    return msgs.select(
        F.col("index").alias("es_index"),
        F.col("value").cast("string").alias("value_str"),
    )


_SQL_ES_BULK = """
SELECT 'logs-generic-default' AS es_index,
       '{"create":{"_index":"logs-generic-default"}}' || chr(10)
       || '{"@timestamp":"'
       || strftime(make_timestamp((1704067200 + event_id % 86400) * 1000000),
                   '%Y-%m-%dT%H:%M:%S') || '.000000000Z",'
       || '"Attributes":{"k":"' || (event_id % 5) || '"},'
       || '"Body":"evt <' || event_id || '> ' || event_type || '",'
       || '"Resource":{"service":{"name":"svc' || (event_id % 3) || '"}},'
       || '"Scope":{"name":"recv/otlp","version":""},'
       || '"SeverityNumber":' || (event_id % 24 + 1) || ','
       || '"SeverityText":"' || event_type || '",'
       || CASE WHEN event_id = 0 THEN '' ELSE
            '"SpanId":"' || lpad(lower(to_hex(event_id)), 16, '0') || '",'
          END
       || '"TraceFlags":0'
       || CASE WHEN event_id = 0 THEN '' ELSE
            ',"TraceId":"' || lpad(lower(to_hex(event_id)), 32, '0') || '"'
          END
       || '}' || chr(10) AS value_str
FROM events
"""


def _q_es_ecs_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """elasticsearchexporter ECS mapping + dynamic index + logstash date
    suffix (`model.go:46-93`, `logs_exporter.go:111-126`, `util.go:14-28`):
    the ``elasticsearch.index.prefix`` record attribute routes the index,
    the logstash date derives from the record timestamp (3-day spread so
    the suffix actually varies), and the prefix attribute itself stays in
    the document (the reference does not strip it)."""
    from .operators.es_exporter import es_bulk_messages

    ensure_shipped(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    flat = ev.select(
        (
            (
                F.lit(1704067200)
                + (F.col("event_id") % 3) * 86400
                + F.col("event_id") % 3600
            ).cast("long")
            * F.lit(1_000_000_000)
        ).alias("time_unix_nano"),
        (F.col("event_id") % 24 + 1).cast("int").alias("severity_number"),
        F.col("event_type").alias("severity_text"),
        F.concat(
            F.lit("evt <"), F.col("event_id").cast("string"),
            F.lit("> "), F.col("event_type"),
        ).alias("body"),
        F.create_map(
            F.lit("k"), (F.col("event_id") % 5).cast("string"),
            F.lit("elasticsearch.index.prefix"),
            F.concat(F.lit("t"), (F.col("event_id") % 2).cast("string"),
                     F.lit("-")),
        ).alias("attributes"),
        F.create_map(
            F.lit("service.name"),
            F.concat(F.lit("svc"), (F.col("event_id") % 3).cast("string")),
        ).alias("resource"),
        F.lit("recv/otlp").alias("scope_name"),
        F.lpad(F.lower(F.conv(F.col("event_id").cast("string"), 10, 16)),
               32, "0").alias("trace_id"),
        F.lpad(F.lower(F.conv(F.col("event_id").cast("string"), 10, 16)),
               16, "0").alias("span_id"),
    )
    msgs = es_bulk_messages(
        flat, mode="ecs", dynamic_index=True, logstash_format=True
    )
    return msgs.select(
        F.col("index").alias("es_index"),
        F.col("value").cast("string").alias("value_str"),
    )


_SQL_ES_ECS = """
WITH base AS (
  SELECT event_id, event_type,
         't' || (event_id % 2) || '-logs-generic-default-'
           || strftime(make_timestamp(
                (1704067200 + (event_id % 3) * 86400 + event_id % 3600)
                * 1000000), '%Y.%m.%d') AS es_index,
         strftime(make_timestamp(
              (1704067200 + (event_id % 3) * 86400 + event_id % 3600)
              * 1000000), '%Y-%m-%dT%H:%M:%S') || '.000000000Z' AS ts
  FROM events
)
SELECT es_index,
       '{"create":{"_index":"' || es_index || '"}}' || chr(10)
       || '{"@timestamp":"' || ts || '",'
       || '"elasticsearch":{"index":{"prefix":"t' || (event_id % 2) || '-"}},'
       || '"event":{"severity":' || (event_id % 24 + 1) || '},'
       || '"k":"' || (event_id % 5) || '",'
       || '"log":{"level":"' || event_type || '"},'
       || '"message":"evt <' || event_id || '> ' || event_type || '",'
       || '"service":{"name":"svc' || (event_id % 3) || '"}'
       || CASE WHEN event_id = 0 THEN '' ELSE
            ',"span":{"id":"' || lpad(lower(to_hex(event_id)), 16, '0')
            || '"},"trace":{"id":"'
            || lpad(lower(to_hex(event_id)), 32, '0') || '"}'
          END
       || '}' || chr(10) AS value_str
FROM base
"""


def _q_s3_body_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """awss3exporter ``marshaler: body`` sink round trip: write
    ``body.AsString()+"\\n"`` objects (`body_marshaler.go:25-44`) under
    the reference's Hive-style minute key layout (`s3_writer.go:26-59`),
    then read the objects BACK and re-derive the time-partition levels
    from the key — the oracle recomputes both from the events table, so
    layout AND content must round-trip."""
    from .operators.s3_exporter import read_s3_body_objects, write_s3_objects

    ensure_shipped(spark)
    work = _work_dir("s3_sink_q_")
    flat = _flat_log_records(spark, sf_dir).drop("event_id")
    write_s3_objects(flat, work, marshaler="body").collect()
    return read_s3_body_objects(spark, work)


_SQL_S3_BODY = """
SELECT 'evt <' || event_id || '> ' || event_type AS body,
       CAST(2024 AS INT) AS year, CAST(1 AS INT) AS month,
       CAST(1 AS INT) AS day,
       CAST((event_id % 86400) // 3600 AS INT) AS hour,
       CAST((event_id % 3600) // 60 AS INT) AS minute
FROM events
"""


def _q_s3_sumo_marshal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """awss3exporter ``marshaler: sumo_ic`` bytes (`sumo_marshaler.go:
    76-154`): per-record JSON line with the ``_source*`` resource
    attributes lifted out, remaining resource attrs as sorted-key
    ``fields``, and the attributes+body map as ``message`` — Go
    ``encoding/json`` escaping, so ``<``/``>`` in the body surface as
    ``\\u003c``/``\\u003e`` (the oracle pins those escapes literally)."""
    from .operators.s3_exporter import sumo_lines

    ensure_shipped(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    flat = ev.select(
        (
            (F.lit(1704067200) + F.col("event_id") % 86400).cast("long")
            * F.lit(1_000_000_000)
        ).alias("time_unix_nano"),
        F.concat(
            F.lit("evt <"), F.col("event_id").cast("string"),
            F.lit("> "), F.col("event_type"),
        ).alias("body"),
        F.create_map(
            F.lit("k"), (F.col("event_id") % 5).cast("string")
        ).alias("attributes"),
        F.create_map(
            F.lit("_sourceCategory"),
            F.concat(F.lit("cat"), (F.col("event_id") % 2).cast("string")),
            F.lit("_sourceHost"),
            F.concat(F.lit("h"), (F.col("event_id") % 3).cast("string")),
            F.lit("_sourceName"), F.lit("app"),
            F.lit("service.name"),
            F.concat(F.lit("svc"), (F.col("event_id") % 3).cast("string")),
        ).alias("resource"),
    )
    return sumo_lines(flat).select(F.col("value").alias("value_str"))


_SQL_S3_SUMO = """
SELECT '{"date": "'
       || strftime(make_timestamp((1704067200 + event_id % 86400) * 1000000),
                   '%Y-%m-%d %H:%M:%S')
       || ' +0000 UTC","sourceName":"app","sourceHost":"h'
       || (event_id % 3) || '","sourceCategory":"cat' || (event_id % 2)
       || '","fields":{"service.name":"svc' || (event_id % 3) || '"}'
       || ',"message":{"k":"' || (event_id % 5)
       || '","log":"evt \\u003c' || event_id || '\\u003e ' || event_type
       || '"}}' AS value_str
FROM events
"""


def _q_loki_json_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """loki translator JSON entries (`pkg/translator/loki/`): default
    labels (exporter/job) + the severity-derived ``level`` label
    (promoted THEN removed from the line's attributes), prometheus-
    normalized name-sorted label-set string, and the lokiEntry JSON line
    in struct order with encoding/json escaping — all rebuilt by the
    oracle, incl. the severity→level band table over all 24 values and
    the all-zero id omission at event_id 0."""
    from .operators.loki_exporter import loki_entries

    ensure_shipped(spark)
    flat = _flat_log_records(spark, sf_dir).drop("event_id")
    return loki_entries(flat).select("tenant", "labels", "ts_ns", "line")


_SQL_LOKI_JSON = """
WITH base AS (
  SELECT event_id, event_type,
         CASE (event_id % 24) // 4
           WHEN 0 THEN 'TRACE' WHEN 1 THEN 'DEBUG' WHEN 2 THEN 'INFO'
           WHEN 3 THEN 'WARN' WHEN 4 THEN 'ERROR' ELSE 'FATAL'
         END || CASE WHEN (event_id % 24) % 4 = 0 THEN ''
                     ELSE CAST((event_id % 24) % 4 + 1 AS VARCHAR) END
           AS lvl
  FROM events
)
SELECT '' AS tenant,
       '{exporter="OTLP", job="svc' || (event_id % 3) || '", level="'
         || lvl || '"}' AS labels,
       CAST((1704067200 + event_id % 86400) * 1000000000 AS BIGINT) AS ts_ns,
       '{"body":"evt \\u003c' || event_id || '\\u003e ' || event_type || '",'
       || CASE WHEN event_id = 0 THEN '' ELSE
            '"traceid":"' || lpad(lower(to_hex(event_id)), 32, '0')
            || '","spanid":"' || lpad(lower(to_hex(event_id)), 16, '0')
            || '",'
          END
       || '"severity":"' || event_type || '",'
       || '"attributes":{"k":"' || (event_id % 5) || '"},'
       || '"resources":{"service.name":"svc' || (event_id % 3) || '"},'
       || '"instrumentation_scope":{"name":"recv/otlp"}}' AS line
FROM base
"""


def _q_splunk_hec_marshal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """splunkhecexporter HEC event JSON (`logdata_to_splunk.go:26-101`,
    `internal/splunk/common.go:43-51`): host/index lifted from the
    ``host.name`` / ``com.splunk.index`` attributes, severity + trace
    ids into ``fields``, body as ``event``, ns time as epoch seconds,
    struct field order with omitempty — oracle rebuilds every byte
    (fields key-sorted per the module's documented determinism pin)."""
    from .operators.splunk_exporter import hec_events

    ensure_shipped(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    flat = ev.select(
        (
            (F.lit(1704067200) + F.col("event_id") % 86400).cast("long")
            * F.lit(1_000_000_000)
        ).alias("time_unix_nano"),
        (F.col("event_id") % 24 + 1).cast("int").alias("severity_number"),
        F.col("event_type").alias("severity_text"),
        F.concat(
            F.lit("evt <"), F.col("event_id").cast("string"),
            F.lit("> "), F.col("event_type"),
        ).alias("body"),
        F.create_map(
            F.lit("k"), (F.col("event_id") % 5).cast("string")
        ).alias("attributes"),
        F.create_map(
            F.lit("host.name"),
            F.concat(F.lit("h"), (F.col("event_id") % 4).cast("string")),
            F.lit("com.splunk.index"), F.lit("main"),
        ).alias("resource"),
        F.lpad(F.lower(F.conv(F.col("event_id").cast("string"), 10, 16)),
               32, "0").alias("trace_id"),
        F.lpad(F.lower(F.conv(F.col("event_id").cast("string"), 10, 16)),
               16, "0").alias("span_id"),
    )
    return hec_events(flat).select(
        F.col("index").alias("hec_index"), "host",
        F.col("value").alias("value_str"),
    )


_SQL_SPLUNK_HEC = """
SELECT 'main' AS hec_index,
       'h' || (event_id % 4) AS host,
       '{"time":' || (1704067200 + event_id % 86400)
       || ',"host":"h' || (event_id % 4) || '","index":"main"'
       || ',"event":"evt \\u003c' || event_id || '\\u003e ' || event_type
       || '","fields":{"k":"' || (event_id % 5)
       || '","otel.log.severity.number":' || (event_id % 24 + 1)
       || ',"otel.log.severity.text":"' || event_type || '"'
       || CASE WHEN event_id = 0 THEN '' ELSE
            ',"span_id":"' || lpad(lower(to_hex(event_id)), 16, '0')
            || '","trace_id":"' || lpad(lower(to_hex(event_id)), 32, '0')
            || '"'
          END
       || '}}' AS value_str
FROM events
"""


def _q_syslog_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """syslogexporter RFC 5424 rendering (`rfc5424_formatter.go:25-41`,
    attribute-sourced fields with '-'/165/1 defaults per `sender.go:
    16-32`) — the inverse of the syslog_parser operator; the oracle
    rebuilds every byte incl. the RFC3339 timestamp and the trailing
    newline."""
    from .operators.syslog_exporter import syslog_lines

    ensure_shipped(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    flat = ev.select(
        (
            (F.lit(1704067200) + F.col("event_id") % 86400).cast("long")
            * F.lit(1_000_000_000)
        ).alias("time_unix_nano"),
        F.create_map(
            F.lit("priority"), (F.col("event_id") % 192).cast("string"),
            F.lit("hostname"),
            F.concat(F.lit("h"), (F.col("event_id") % 7).cast("string")),
            F.lit("appname"),
            F.concat(F.lit("app"), (F.col("event_id") % 3).cast("string")),
            F.lit("proc_id"), (F.col("event_id") % 1000).cast("string"),
            F.lit("msg_id"),
            F.concat(F.lit("M"), (F.col("event_id") % 10).cast("string")),
            F.lit("message"),
            F.concat(F.lit("evt <"), F.col("event_id").cast("string"),
                     F.lit("> "), F.col("event_type")),
        ).alias("attributes"),
    )
    return syslog_lines(flat, protocol="rfc5424").select(
        F.col("value").alias("value_str")
    )


_SQL_SYSLOG_RENDER = """
SELECT '<' || (event_id % 192) || '>1 '
       || strftime(make_timestamp((1704067200 + event_id % 86400) * 1000000),
                   '%Y-%m-%dT%H:%M:%S') || 'Z'
       || ' h' || (event_id % 7)
       || ' app' || (event_id % 3)
       || ' ' || (event_id % 1000)
       || ' M' || (event_id % 10)
       || ' - evt <' || event_id || '> ' || event_type
       || chr(10) AS value_str
FROM events
"""


def _q_prom_text_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """prometheusexporter text exposition over the count connector's
    output (`collector.go:112-137` label mapping + client expfmt lines):
    count log records per (severity, source) and render one
    ``log_record_count{...} N`` series line each — name-sorted escaped
    labels, integral values bare. Pure codegen end to end (aggregation +
    string assembly, zero Python)."""
    from .operators.prometheus_exporter import prometheus_series_lines

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    counts = (
        ev.select(
            F.col("event_type").alias("severity_text"),
            F.concat(F.lit("s"), (F.col("event_id") % 3).cast("string"))
            .alias("source"),
        )
        .groupBy("severity_text", "source")
        .agg(F.count(F.lit(1)).alias("value"))
    )
    return prometheus_series_lines(
        counts, "log.record.count",
        label_cols=["severity_text", "source"],
        const_labels={"exporter": "otel"},
    ).select(F.col("line").alias("line"))


_SQL_PROM_TEXT = """
SELECT 'log_record_count{exporter="otel",severity_text="' || event_type
       || '",source="s' || (event_id % 3) || '"} ' || COUNT(*) AS line
FROM events
GROUP BY event_type, event_id % 3
"""


def _q_metrics_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """metricstransform processor (`processor/metricstransformprocessor/
    metrics_transform_processor_otlp.go:229-297`): flat gauge datapoints
    derived from events (`sys_<type>_total`, cents values, day timestamps,
    a `u` shard label) run an UPDATE transform (scale ×2 + add_label on
    the error metric, `operation_scale_value.go` / `operation_add_label.go`)
    then a COMBINE transform — the regexp's named capture group becomes an
    upper-cased `kind` label on every datapoint and the matched metrics
    merge into one sum-aggregated metric (`:399-436` + groupMetrics). The
    oracle replays scale/label/combine/merge in plain SQL. One exchange
    total (the combine merge groupBy); everything else is pure codegen."""
    from .operators.metrics_transform import (
        MetricFilter,
        Operation,
        Transform,
        metrics_transform,
    )

    ensure_utc(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    dps = ev.select(
        F.concat(F.lit("sys_"), F.col("event_type"), F.lit("_total")).alias(
            "metric_name"
        ),
        F.lit("1").alias("unit"),
        F.lit("gauge").alias("metric_type"),
        F.lit("").alias("temporality"),
        F.lit(False).alias("monotonic"),
        F.lit("int").alias("value_type"),
        F.create_map(
            F.lit("u"), (F.col("user_id") % 5).cast("string")
        ).alias("attributes"),
        F.lit(0).cast("long").alias("start_time_unix"),
        (F.floor(F.unix_timestamp("ts") / 86400) * 86400)
        .cast("long")
        .alias("time_unix"),
        F.round(F.col("value") * 100).cast("long").alias("value"),
    )
    out = metrics_transform(
        dps,
        [
            Transform(
                include=MetricFilter("sys_error_total"),
                action="update",
                operations=[
                    Operation("scale_value", scale_num=2, scale_den=1),
                    Operation("add_label", new_label="sev", new_value="hi"),
                ],
            ),
            Transform(
                include=MetricFilter(r"^sys_(?P<kind>[a-z]+)_total$", "regexp"),
                action="combine",
                new_name="sys.ops",
                aggregation_type="sum",
                submatch_case="upper",
            ),
        ],
    )
    return out.select(
        "metric_name",
        F.col("attributes").getItem("kind").alias("kind"),
        F.col("attributes").getItem("u").alias("u"),
        F.col("attributes").getItem("sev").alias("sev"),
        "time_unix",
        F.col("value").alias("value_sum"),
    )


_SQL_METRICS_TRANSFORM = """
WITH dp AS (
  SELECT event_type,
         CAST(user_id % 5 AS VARCHAR) AS u,
         CAST(floor(epoch(ts)/86400)*86400 AS BIGINT) AS day_ts,
         CAST(round(value*100) AS BIGINT) AS cents
  FROM events
)
SELECT 'sys.ops' AS metric_name,
       upper(event_type) AS kind,
       u,
       CASE WHEN event_type = 'error' THEN 'hi' END AS sev,
       day_ts AS time_unix,
       SUM(CASE WHEN event_type = 'error' THEN cents * 2 ELSE cents END)
         AS value_sum
FROM dp
GROUP BY event_type, u, day_ts
"""


def _q_metrics_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """metricsgeneration processor (`processor/metricsgenerationprocessor/
    processor.go:41-74`): per user (the ResourceMetrics group analog) the
    events table yields two gauges — `evt.cents` (one dp per event) and
    `evt.base` ((event_id % 50) + 1). A calculate/percent rule divides
    every evt.cents dp by the FIRST evt.base datapoint of the group
    (`utils.go:26-41`; first = min (time, value) — deterministic table
    analog of pdata slice order) emitting integer fixed-point (×FP); a
    scale rule floors evt.cents × 3/7. Groups whose operand2 <= 0 are
    skipped (`processor.go:60-66`; none here, base >= 1). The operand2
    aggregate is group-count-bounded and broadcast — payload rows never
    shuffle."""
    from .operators.metrics_transform import GenerationRule, generate_metrics

    ensure_utc(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    base = ev.select(
        "user_id",
        F.unix_timestamp("ts").cast("long").alias("time_unix"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        ((F.col("event_id") % 50) + 1).cast("long").alias("base"),
    )
    mk = lambda name, val: base.select(  # noqa: E731
        F.lit(name).alias("metric_name"),
        F.lit("1").alias("unit"),
        F.lit("gauge").alias("metric_type"),
        F.lit("").alias("temporality"),
        F.lit(False).alias("monotonic"),
        F.lit("int").alias("value_type"),
        F.create_map().cast("map<string,string>").alias("attributes"),
        F.lit(0).cast("long").alias("start_time_unix"),
        "time_unix",
        F.col(val).alias("value"),
        "user_id",
    )
    dps = mk("evt.cents", "cents").unionByName(mk("evt.base", "base"))
    out = generate_metrics(
        dps,
        [
            GenerationRule(
                "evt.pct",
                unit="%",
                rule_type="calculate",
                metric1="evt.cents",
                metric2="evt.base",
                operation="percent",
            ),
            GenerationRule(
                "evt.scaled",
                rule_type="scale",
                metric1="evt.cents",
                scale_num=3,
                scale_den=7,
            ),
        ],
        group_cols=["user_id"],
    )
    return out.select("metric_name", "user_id", "time_unix", "value")


_SQL_METRICS_GENERATE = """
WITH base AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS time_unix,
         CAST(round(value*100) AS BIGINT) AS cents,
         (event_id % 50) + 1 AS b
  FROM events
), firsts AS (
  SELECT user_id, b AS op2
  FROM (SELECT user_id, b,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY time_unix, b) AS rn
        FROM base) t
  WHERE rn = 1 AND b > 0
)
SELECT 'evt.cents' AS metric_name, user_id, time_unix, cents AS value FROM base
UNION ALL
SELECT 'evt.base', user_id, time_unix, b FROM base
UNION ALL
SELECT 'evt.pct', base.user_id, time_unix,
       CAST(floor(cents * 100 * 1000000.0 / op2) AS BIGINT)
FROM base JOIN firsts ON base.user_id = firsts.user_id
UNION ALL
SELECT 'evt.scaled', user_id, time_unix,
       CAST(floor(cents * 3.0 / 7) AS BIGINT)
FROM base
"""


def _q_sumologic_process(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sumologicprocessor log path (`processor/sumologicprocessor/
    processor.go:31-55` subprocessor order): cloud.namespace stamping
    (`cloud_namespace_processor.go:66-80`), OTel→Sumo attribute renames
    (`translate_attributes_processor.go`), prefix aggregation into a JSON
    object attribute (`aggregate_attributes_processor.go:110-165`), and
    log-fields conversion (loglevel from the 24-level severity table,
    severitytext/spanid added when absent). Entirely pure map codegen —
    zero exchanges; the oracle rebuilds every rule (incl. the JSON render
    and the level table) in SQL."""
    from .operators.sumologic import sumologic_process

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    df = ev.select(
        "event_id",
        F.create_map(
            F.lit("cloud.platform"),
            F.when(F.col("event_type") == "click", F.lit("aws_ec2"))
            .when(F.col("event_type") == "view", F.lit("aws_ecs"))
            .when(F.col("event_type") == "error", F.lit("aws_elastic_beanstalk"))
            .otherwise(F.lit("gcp_compute_engine")),
            F.lit("host.name"),
            F.concat(F.lit("h"), (F.col("user_id") % 10).cast("string")),
            F.lit("service.name"),
            F.concat(F.lit("svc-"), F.col("event_type")),
        ).alias("resource"),
        F.create_map(
            F.lit("pod_a"), (F.col("event_id") % 3).cast("string"),
            F.lit("pod_b"), (F.col("event_id") % 5).cast("string"),
            F.lit("keep"), F.col("event_type"),
        ).alias("attributes"),
        (F.col("event_id") % 25).cast("int").alias("severity_number"),
        F.col("event_type").alias("severity_text"),
        F.lit(None).cast("string").alias("span_id"),
        F.lit("").alias("trace_id"),
    )
    out = sumologic_process(df, aggregate=[("pods", ["pod_"])], log_fields=True)
    return out.select(
        "event_id",
        F.col("resource").getItem("cloud.namespace").alias("cloud_ns"),
        F.col("resource").getItem("aws_service").alias("aws_service"),
        F.col("resource").getItem("host").alias("host"),
        F.col("resource").getItem("service").alias("service"),
        F.col("attributes").getItem("pods").alias("pods_json"),
        F.col("attributes").getItem("keep").alias("keep"),
        F.col("attributes").getItem("loglevel").alias("loglevel"),
        F.col("attributes").getItem("severitytext").alias("severitytext"),
        F.col("attributes").getItem("spanid").alias("spanid"),
    )


_SQL_SUMOLOGIC = """
SELECT event_id,
  CASE event_type WHEN 'click' THEN 'aws/ec2' WHEN 'view' THEN 'ecs'
       WHEN 'error' THEN 'ElasticBeanstalk' END AS cloud_ns,
  CASE event_type WHEN 'click' THEN 'aws_ec2' WHEN 'view' THEN 'aws_ecs'
       WHEN 'error' THEN 'aws_elastic_beanstalk'
       ELSE 'gcp_compute_engine' END AS aws_service,
  'h' || (user_id % 10) AS host,
  'svc-' || event_type AS service,
  '{"a":"' || (event_id % 3) || '","b":"' || (event_id % 5) || '"}'
    AS pods_json,
  event_type AS keep,
  CASE WHEN event_id % 25 = 0 THEN NULL ELSE
    (['TRACE','TRACE2','TRACE3','TRACE4','DEBUG','DEBUG2','DEBUG3','DEBUG4',
      'INFO','INFO2','INFO3','INFO4','WARN','WARN2','WARN3','WARN4',
      'ERROR','ERROR2','ERROR3','ERROR4','FATAL','FATAL2','FATAL3','FATAL4']
    )[CAST(event_id % 25 AS INT)] END AS loglevel,
  event_type AS severitytext,
  '' AS spanid
FROM events
"""


def _q_loki_receive_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lokireceiver (`pkg/translator/loki/loki_to_otlp.go:19-82`): marshal
    flat records into push entries with the exporter half (format hint
    ``raw`` → line = body), then unmarshal the entries back through the
    receiver half — the label-set string is the only carrier of the
    exporter/job/level labels, so the oracle (recomputed straight from
    the events table) value-checks the label serializer AND the promql
    label parser, plus keepTimestamp and the __-internal filter."""
    from .operators.loki_exporter import loki_entries
    from .sources.loki_receiver import loki_log_records

    ensure_shipped(spark)
    flat = _flat_log_records(spark, sf_dir).drop("event_id").withColumn(
        "attributes",
        F.create_map(
            F.lit("k"), F.col("attributes")["k"],
            F.lit("loki.format"), F.lit("raw"),
        ),
    )
    back = loki_log_records(loki_entries(flat))
    return back.select(
        "time_unix_nano",
        "body",
        F.col("attributes")["exporter"].alias("exporter"),
        F.col("attributes")["job"].alias("job"),
        F.col("attributes")["level"].alias("lvl"),
    )


_SQL_LOKI_RECEIVE = """
SELECT CAST((1704067200 + event_id % 86400) * 1000000000 AS BIGINT)
         AS time_unix_nano,
       'evt <' || event_id || '> ' || event_type AS body,
       'OTLP' AS exporter,
       'svc' || (event_id % 3) AS job,
       CASE (event_id % 24) // 4
         WHEN 0 THEN 'TRACE' WHEN 1 THEN 'DEBUG' WHEN 2 THEN 'INFO'
         WHEN 3 THEN 'WARN' WHEN 4 THEN 'ERROR' ELSE 'FATAL'
       END || CASE WHEN (event_id % 24) % 4 = 0 THEN ''
                   ELSE CAST((event_id % 24) % 4 + 1 AS VARCHAR) END AS lvl
FROM events
"""


def _q_splunk_hec_receive_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """splunkhecreceiver (`splunk_to_logdata.go:34-78`): marshal flat
    records into HEC event JSON with the exporter half, then unmarshal
    back through the receiver half — the event JSON is the only carrier,
    so the oracle value-checks both directions: metadata lift →
    ``hec_metadata_to_otel_attrs`` resource mapping, severity/trace
    lifts → fields → record attributes, ns→s time → s→ns time (exact
    here: the synthetic timestamps are whole seconds)."""
    from .operators.splunk_exporter import hec_events
    from .sources.splunk_receiver import hec_log_records

    ensure_shipped(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    hexid = F.lower(F.conv(F.col("event_id").cast("string"), 10, 16))
    flat = ev.select(
        (
            (F.lit(1704067200) + F.col("event_id") % 86400).cast("long")
            * F.lit(1_000_000_000)
        ).alias("time_unix_nano"),
        (F.col("event_id") % 24 + 1).cast("int").alias("severity_number"),
        F.col("event_type").alias("severity_text"),
        F.concat(
            F.lit("evt <"), F.col("event_id").cast("string"),
            F.lit("> "), F.col("event_type"),
        ).alias("body"),
        F.create_map(
            F.lit("k"), (F.col("event_id") % 5).cast("string")
        ).alias("attributes"),
        F.create_map(
            F.lit("host.name"),
            F.concat(F.lit("h"), (F.col("event_id") % 4).cast("string")),
            F.lit("com.splunk.index"), F.lit("main"),
        ).alias("resource"),
        F.lpad(hexid, 32, "0").alias("trace_id"),
        F.lpad(hexid, 16, "0").alias("span_id"),
    )
    back = hec_log_records(hec_events(flat))
    return back.select(
        "time_unix_nano",
        "body",
        F.col("resource")["host.name"].alias("host"),
        F.col("resource")["com.splunk.index"].alias("hec_index"),
        F.col("attributes")["k"].alias("attr_k"),
        F.col("attributes")["otel.log.severity.text"].alias("sev_text"),
        F.col("attributes")["otel.log.severity.number"].alias("sev_num"),
        F.col("attributes")["trace_id"].alias("tid"),
    )


_SQL_SPLUNK_HEC_RECEIVE = """
SELECT CAST((1704067200 + event_id % 86400) * 1000000000 AS BIGINT)
         AS time_unix_nano,
       'evt <' || event_id || '> ' || event_type AS body,
       'h' || (event_id % 4) AS host,
       'main' AS hec_index,
       CAST(event_id % 5 AS VARCHAR) AS attr_k,
       event_type AS sev_text,
       CAST(event_id % 24 + 1 AS VARCHAR) AS sev_num,
       CASE WHEN event_id = 0 THEN NULL
            ELSE lpad(lower(to_hex(event_id)), 32, '0') END AS tid
FROM events
"""


def _q_statsd_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """statsdreceiver flush (`receiver/statsdreceiver/internal/protocol/
    statsd_parser.go:264-345` + `metric_translator.go`): synthesize a
    statsd line stream from the events table (counters with @0.5
    sampling, gauges mixing set/+/- addition lines, tagged timers),
    parse it, and aggregate one flush interval. The oracle recomputes
    counter truncated-sample sums, the gauge last-writer+additions fold
    (base = last non-addition line else first line), and the gonum
    Empirical summary percentiles (smallest sample whose cumulative
    weight reaches p×total) straight from the table."""
    from .sources.statsd_receiver import statsd_datapoints, statsd_flush

    ensure_shipped(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    eid = F.col("event_id")
    lines = ev.select(
        eid.alias("line_id"),
        F.when(
            eid % 3 == 0,
            F.concat(
                F.lit("c"), (eid % 4).cast("string"),
                F.lit(":"), (eid % 10).cast("string"), F.lit("|c"),
                F.when(eid % 2 == 0, F.lit("|@0.5")).otherwise(F.lit("")),
            ),
        )
        .when(
            eid % 3 == 1,
            F.concat(
                F.lit("g"), (eid % 4).cast("string"), F.lit(":"),
                F.when(eid % 5 < 2, F.lit("+"))
                .when(eid % 5 == 2, F.lit("-"))
                .otherwise(F.lit("")),
                (eid % 7).cast("string"), F.lit("|g"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("lat"), (eid % 2).cast("string"),
                F.lit(":"), (eid % 100).cast("string"),
                F.lit("|ms|#k:"), (eid % 5).cast("string"),
            )
        )
        .alias("line"),
    )
    flushed = statsd_flush(
        statsd_datapoints(lines),
        1_704_067_200_000_000_000,
        1_704_067_260_000_000_000,
        timer_observer="summary",
    )
    return flushed.select(
        "name",
        "kind",
        F.col("attrs")["k"].alias("k"),
        "int_value",
        "double_value",
        F.col("count").alias("cnt"),
        F.col("sum").alias("sm"),
        "q0", "q10", "q50", "q90", "q95", "q100",
    )


_SQL_STATSD = """
WITH c AS (
  SELECT 'c' || (event_id % 4) AS name,
         CASE WHEN event_id % 2 = 0
              THEN CAST(trunc((event_id % 10) / 0.5) AS BIGINT)
              ELSE event_id % 10 END AS cv
  FROM events WHERE event_id % 3 = 0
),
g AS (
  SELECT event_id AS id, 'g' || (event_id % 4) AS name,
         (event_id % 5) < 3 AS addition,
         CASE WHEN event_id % 5 = 2 THEN -CAST(event_id % 7 AS DOUBLE)
              ELSE CAST(event_id % 7 AS DOUBLE) END AS signed
  FROM events WHERE event_id % 3 = 1
),
gb AS (
  SELECT name,
         coalesce(max(CASE WHEN NOT addition THEN id END), min(id)) AS base_id
  FROM g GROUP BY name
),
t AS (
  SELECT 'lat' || (event_id % 2) AS name,
         CAST(event_id % 5 AS VARCHAR) AS k,
         CAST(event_id % 100 AS DOUBLE) AS v
  FROM events WHERE event_id % 3 = 2
),
ts AS (
  SELECT name, k, COUNT(*) AS n, SUM(v) AS sm, list(v ORDER BY v) AS vs
  FROM t GROUP BY name, k
)
SELECT name, 'counter' AS kind, CAST(NULL AS VARCHAR) AS k,
       SUM(cv) AS int_value, CAST(NULL AS DOUBLE) AS double_value,
       CAST(NULL AS BIGINT) AS cnt, CAST(NULL AS DOUBLE) AS sm,
       CAST(NULL AS DOUBLE) AS q0, CAST(NULL AS DOUBLE) AS q10,
       CAST(NULL AS DOUBLE) AS q50, CAST(NULL AS DOUBLE) AS q90,
       CAST(NULL AS DOUBLE) AS q95, CAST(NULL AS DOUBLE) AS q100
FROM c GROUP BY name
UNION ALL
SELECT g.name, 'gauge', NULL, NULL,
       SUM(CASE WHEN g.id = gb.base_id THEN g.signed
                WHEN g.addition AND g.id > gb.base_id THEN g.signed END),
       NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL
FROM g JOIN gb USING (name) GROUP BY g.name
UNION ALL
SELECT name, 'summary', k, NULL, NULL, n, sm,
       vs[greatest(1, CAST(ceil(0.00 * n) AS BIGINT))],
       vs[greatest(1, CAST(ceil(0.10 * n) AS BIGINT))],
       vs[greatest(1, CAST(ceil(0.50 * n) AS BIGINT))],
       vs[greatest(1, CAST(ceil(0.90 * n) AS BIGINT))],
       vs[greatest(1, CAST(ceil(0.95 * n) AS BIGINT))],
       vs[greatest(1, CAST(ceil(1.00 * n) AS BIGINT))]
FROM ts
"""


def _q_carbon_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """carbonreceiver plaintext lines (`receiver/carbonreceiver/protocol/
    path_parser_helper.go:92-147` + `plaintext_parser.go:39-71`):
    synthesize ``<path>[;env=prod] <value> <ts>`` lines from the events
    table — int and float values (typed datapoints), int and fractional
    timestamps (modf second/nano split) — parse, and emit the typed
    rows. The oracle recomputes every field straight from the table."""
    from .sources.carbon_receiver import carbon_datapoints

    ensure_shipped(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    eid = F.col("event_id")
    lines = ev.select(
        F.concat(
            F.lit("svc"), (eid % 3).cast("string"),
            F.lit(".h"), (eid % 5).cast("string"),
            F.lit(".cpu.seconds"),
            F.when(eid % 2 == 0, F.lit(";env=prod")).otherwise(F.lit("")),
            F.lit(" "),
            (eid % 100).cast("string"),
            F.when(eid % 4 == 0, F.lit(".5")).otherwise(F.lit("")),
            F.lit(" "),
            ((F.lit(1704067200) + eid % 86400)).cast("string"),
            F.when(eid % 7 == 0, F.lit(".5")).otherwise(F.lit("")),
        ).alias("line")
    )
    return carbon_datapoints(lines).select(
        "name",
        "kind",
        "is_int",
        "int_value",
        "double_value",
        "ts_ns",
        F.col("attrs")["env"].alias("env"),
    )


_SQL_CARBON = """
SELECT 'svc' || (event_id % 3) || '.h' || (event_id % 5) || '.cpu.seconds'
         AS name,
       'gauge' AS kind,
       event_id % 4 <> 0 AS is_int,
       CASE WHEN event_id % 4 = 0 THEN NULL ELSE event_id % 100 END
         AS int_value,
       CASE WHEN event_id % 4 = 0
            THEN CAST(event_id % 100 AS DOUBLE) + 0.5 END AS double_value,
       CAST((1704067200 + event_id % 86400) * 1000000000 AS BIGINT)
         + CASE WHEN event_id % 7 = 0 THEN 500000000 ELSE 0 END AS ts_ns,
       CASE WHEN event_id % 2 = 0 THEN 'prod' END AS env
FROM events
"""


def _q_wavefront_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """wavefrontreceiver (`receiver/wavefrontreceiver/wavefront_parser.go:
    51-113`): synthesize ``<name> <value> [<ts>] source=<h> [env=prod]``
    lines — int and float values (typed points), every 9th line with the
    timestamp OMITTED (the reference stamps time.Now(); pinned to 0
    here, module docstring) — parse, and emit the typed rows. Oracle
    recomputes every field from the table."""
    from .sources.wavefront_receiver import wavefront_datapoints

    ensure_shipped(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    eid = F.col("event_id")
    lines = ev.select(
        F.concat(
            F.lit("m"), (eid % 3).cast("string"), F.lit(".load "),
            (eid % 100).cast("string"),
            F.when(eid % 4 == 0, F.lit(".5")).otherwise(F.lit("")),
            F.lit(" "),
            F.when(
                eid % 9 == 0, F.lit("")
            ).otherwise(
                F.concat(
                    ((F.lit(1704067200) + eid % 86400)).cast("string"),
                    F.lit(" "),
                )
            ),
            F.lit("source=h"), (eid % 5).cast("string"),
            F.when(eid % 2 == 0, F.lit(" env=prod")).otherwise(F.lit("")),
        ).alias("line")
    )
    return wavefront_datapoints(lines).select(
        "name",
        "is_int",
        "int_value",
        "double_value",
        "ts_ns",
        F.col("attrs")["source"].alias("src"),
        F.col("attrs")["env"].alias("env"),
    )


_SQL_WAVEFRONT = """
SELECT 'm' || (event_id % 3) || '.load' AS name,
       event_id % 4 <> 0 AS is_int,
       CASE WHEN event_id % 4 = 0 THEN NULL ELSE event_id % 100 END
         AS int_value,
       CASE WHEN event_id % 4 = 0
            THEN CAST(event_id % 100 AS DOUBLE) + 0.5 END AS double_value,
       CASE WHEN event_id % 9 = 0 THEN 0
            ELSE CAST((1704067200 + event_id % 86400) * 1000000000 AS BIGINT)
       END AS ts_ns,
       'h' || (event_id % 5) AS src,
       CASE WHEN event_id % 2 = 0 THEN 'prod' END AS env
FROM events
"""


def _q_collectd_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collectdreceiver (`receiver/collectdreceiver/collectd.go:62-148`):
    synthesize write_http JSON bodies from the events table — gauge vs
    derive dstypes, int vs float json.Number values, bracket-block
    type_instance extraction, single-dsname→attribute rule — parse, and
    emit the typed rows. Oracle recomputes every field from the table."""
    from .sources.collectd_receiver import collectd_datapoints

    ensure_shipped(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    eid = F.col("event_id")
    bodies = ev.select(
        F.concat(
            F.lit('[{"dsnames":["value"],"dstypes":["'),
            F.when(eid % 2 == 0, F.lit("gauge")).otherwise(F.lit("derive")),
            F.lit('"],"values":['),
            (eid % 100).cast("string"),
            F.when(eid % 4 == 0, F.lit(".5")).otherwise(F.lit("")),
            F.lit('],"host":"h'), (eid % 5).cast("string"),
            F.lit('","plugin":"cpu","plugin_instance":"core'),
            (eid % 4).cast("string"),
            F.lit('","time":'),
            (F.lit(1704067200) + eid % 86400).cast("string"),
            F.lit(',"interval":10,"type":"load","type_instance":"avg[k=v'),
            (eid % 3).cast("string"),
            F.lit(']"}]'),
        ).alias("value")
    )
    return collectd_datapoints(bodies).select(
        "name",
        "kind",
        "is_int",
        "int_value",
        "double_value",
        "ts_ns",
        F.col("attrs")["k"].alias("k"),
        F.col("attrs")["host"].alias("host"),
        F.col("attrs")["dsname"].alias("dsname"),
    )


_SQL_COLLECTD = """
SELECT 'load.avg' AS name,
       CASE WHEN event_id % 2 = 0 THEN 'gauge' ELSE 'cumulative' END AS kind,
       event_id % 4 <> 0 AS is_int,
       CASE WHEN event_id % 4 = 0 THEN NULL ELSE event_id % 100 END
         AS int_value,
       CASE WHEN event_id % 4 = 0
            THEN CAST(event_id % 100 AS DOUBLE) + 0.5 END AS double_value,
       CAST((1704067200 + event_id % 86400) * 1000000000 AS BIGINT) AS ts_ns,
       'v' || (event_id % 3) AS k,
       'h' || (event_id % 5) AS host,
       'value' AS dsname
FROM events
"""


def _q_syslog_octet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 6587 octet-counted syslog TCP round-trip: render each event
    with the syslog exporter (octet_counting=True — the length prefix
    counts the trailing newline, `sender.go:16-32`), concatenate frames
    into per-connection streams IN event order (what a TCP sender
    emits), then split the streams back with the receive-direction
    framing (`input.go:54-84`) and parse RFC 5424. The oracle recomputes
    every parsed field straight from the table, so the frame writer AND
    the frame splitter are both value-checked — a frame boundary off by
    one byte would corrupt every later message in its stream."""
    from .operators.parse import syslog_parser
    from .operators.syslog_exporter import syslog_lines
    from .sources.syslog_framing import syslog_frame_lines

    ensure_shipped(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    eid = F.col("event_id")
    flat = ev.select(
        "event_id",
        (
            (F.lit(1704067200) + eid % 86400).cast("long")
            * F.lit(1_000_000_000)
        ).alias("time_unix_nano"),
        F.create_map(
            F.lit("priority"), (eid % 192).cast("string"),
            F.lit("hostname"), F.concat(F.lit("h"), (eid % 7).cast("string")),
            F.lit("appname"), F.concat(F.lit("app"), (eid % 3).cast("string")),
            F.lit("proc_id"), (eid % 1000).cast("string"),
            F.lit("msg_id"), F.concat(F.lit("M"), (eid % 10).cast("string")),
            F.lit("message"),
            F.concat(F.lit("evt <"), eid.cast("string"),
                     F.lit("> "), F.col("event_type")),
        ).alias("attributes"),
    )
    framed = syslog_lines(
        flat, "rfc5424", octet_counting=True, keep=("event_id",)
    )
    streams = (
        framed.groupBy(
            (F.col("event_id") % 64).cast("string").alias("conn")
        )
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("event_id", "value"))
                    ),
                    lambda s: s.getField("value"),
                ),
                "",
            ).alias("value")
        )
    )
    lines = syslog_frame_lines(streams, conn_col="conn")
    parsed = syslog_parser(lines, protocol="rfc5424", multiline_msg=True)
    return parsed.select(
        F.col("pri").cast("int").alias("pri_n"),
        "host",
        "app",
        "procid",
        "msgid",
        F.regexp_replace(F.col("msg"), r"\n$", "").alias("msg"),
        "facility",
        "syslog_severity",
    )


_SQL_SYSLOG_OCTET = """
SELECT CAST(event_id % 192 AS INT) AS pri_n,
       'h' || (event_id % 7) AS host,
       'app' || (event_id % 3) AS app,
       CAST(event_id % 1000 AS VARCHAR) AS procid,
       'M' || (event_id % 10) AS msgid,
       'evt <' || event_id || '> ' || event_type AS msg,
       CAST((event_id % 192) // 8 AS INT) AS facility,
       CAST((event_id % 192) % 8 AS INT) AS syslog_severity
FROM events
"""


def _q_azure_logs_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Azure resource-logs translator (`pkg/translator/azure/
    resourcelogs_to_logs.go:83-211`): synthesize Event-Hub payloads from
    the events table — named and numeric Levels, 100 ns (7-digit)
    timestamp fractions, durationMs, nested properties — parse, and
    emit the typed rows. Oracle recomputes every field, incl. the
    Informational/Warning/Error/Critical severity table and the exact
    nanosecond timestamps."""
    from .sources.azure_logs import azure_log_records

    ensure_shipped(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    eid = F.col("event_id")
    ts = F.from_unixtime(
        F.lit(1704067200) + eid % 86400, "yyyy-MM-dd'T'HH:mm:ss"
    )
    level = (
        F.when(eid % 5 == 0, F.lit('"Informational"'))
        .when(eid % 5 == 1, F.lit('"Warning"'))
        .when(eid % 5 == 2, F.lit('"Error"'))
        .when(eid % 5 == 3, F.lit('"Critical"'))
        .otherwise((eid % 24 + 1).cast("string"))
    )
    bodies = ev.select(
        F.concat(
            F.lit('{"records":[{"time":"'), ts,
            F.when(eid % 3 == 0, F.lit(".1234567")).otherwise(F.lit("")),
            F.lit('Z","resourceId":"/SUB/'), (eid % 4).cast("string"),
            F.lit('","operationName":"op'), (eid % 3).cast("string"),
            F.lit('","category":"cat'), (eid % 2).cast("string"),
            F.lit('","Level":'), level,
            F.lit(',"durationMs":'), (eid % 1000).cast("string"),
            F.lit(',"callerIpAddress":"10.0.0.'), (eid % 256).cast("string"),
            F.lit('","location":"eastus","properties":{"k":'),
            (eid % 7).cast("string"),
            F.lit("}}]}"),
        ).alias("value")
    )
    recs = azure_log_records(bodies)
    return recs.select(
        "time_unix_nano",
        "severity_number",
        "severity_text",
        F.col("resource")["azure.resource.id"].alias("rid"),
        F.col("attributes")["azure.category"].alias("category"),
        F.col("attributes")["azure.operation.name"].alias("op"),
        F.col("attributes")["azure.duration"].alias("dur"),
        F.col("attributes")["azure.properties"].alias("props"),
        F.col("attributes")["cloud.region"].alias("region"),
        F.col("attributes")["cloud.provider"].alias("provider"),
        F.col("attributes")["net.sock.peer.addr"].alias("peer"),
        F.col("scope_name"),
    )


_SQL_AZURE_LOGS = """
SELECT CAST((1704067200 + event_id % 86400) * 1000000000 AS BIGINT)
         + CASE WHEN event_id % 3 = 0 THEN 123456700 ELSE 0 END
         AS time_unix_nano,
       CAST(CASE event_id % 5
         WHEN 0 THEN 9 WHEN 1 THEN 13 WHEN 2 THEN 17 WHEN 3 THEN 21
         ELSE event_id % 24 + 1 END AS INT) AS severity_number,
       CASE event_id % 5
         WHEN 0 THEN 'Informational' WHEN 1 THEN 'Warning'
         WHEN 2 THEN 'Error' WHEN 3 THEN 'Critical'
         ELSE CAST(event_id % 24 + 1 AS VARCHAR) END AS severity_text,
       '/SUB/' || (event_id % 4) AS rid,
       'cat' || (event_id % 2) AS category,
       'op' || (event_id % 3) AS op,
       CAST(event_id % 1000 AS VARCHAR) AS dur,
       '{"k":' || (event_id % 7) || '}' AS props,
       'eastus' AS region,
       'azure' AS provider,
       '10.0.0.' || (event_id % 256) AS peer,
       'otelcol/azureresourcelogs' AS scope_name
FROM events
"""


def _q_cloudflare_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cloudflarereceiver (`receiver/cloudflarereceiver/logs.go:197-321`):
    synthesize Logpush NDJSON from the events table covering every
    EdgeResponseStatus severity band (200/300/400/500 + out-of-range
    600), RFC 3339 timestamps, zone grouping, and the typed attribute
    mapping; parse and emit the rows. The oracle recomputes every field
    incl. the whole-object Go-JSON body with sorted keys."""
    from .sources.cloudflare_receiver import cloudflare_log_records

    ensure_shipped(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    eid = F.col("event_id")
    ts = F.from_unixtime(
        F.lit(1704067200) + eid % 86400, "yyyy-MM-dd'T'HH:mm:ss"
    )
    code = (F.lit(200) + (eid % 5) * 100).cast("string")
    payloads = ev.select(
        F.concat(
            F.lit('{"ClientIP":"10.0.0.'), (eid % 256).cast("string"),
            F.lit('","ClientRequestBytes":'), (eid % 1000).cast("string"),
            F.lit(',"EdgeResponseStatus":'), code,
            F.lit(',"EdgeStartTimestamp":"'), ts,
            F.lit('Z","ZoneName":"z'), (eid % 3).cast("string"),
            F.lit('"}'),
        ).alias("value")
    )
    recs = cloudflare_log_records(
        payloads,
        attributes={
            "ClientIP": "http.client_ip",
            "ClientRequestBytes": "req_bytes",
        },
    )
    return recs.select(
        "time_unix_nano",
        "severity_number",
        "severity_text",
        F.col("resource")["cloudflare.zone"].alias("zone"),
        F.col("attributes")["http.client_ip"].alias("ip"),
        F.col("attributes")["req_bytes"].alias("req_bytes"),
        "body",
    )


_SQL_CLOUDFLARE = """
SELECT CAST((1704067200 + event_id % 86400) * 1000000000 AS BIGINT)
         AS time_unix_nano,
       CAST(CASE event_id % 5
         WHEN 0 THEN 9 WHEN 1 THEN 10 WHEN 2 THEN 13 WHEN 3 THEN 17
         ELSE 0 END AS INT) AS severity_number,
       CASE event_id % 5
         WHEN 0 THEN 'Info' WHEN 1 THEN 'Info2' WHEN 2 THEN 'Warn'
         WHEN 3 THEN 'Error' ELSE '' END AS severity_text,
       'z' || (event_id % 3) AS zone,
       '10.0.0.' || (event_id % 256) AS ip,
       CAST(event_id % 1000 AS VARCHAR) AS req_bytes,
       '{"ClientIP":"10.0.0.' || (event_id % 256)
       || '","ClientRequestBytes":' || (event_id % 1000)
       || ',"EdgeResponseStatus":' || (200 + (event_id % 5) * 100)
       || ',"EdgeStartTimestamp":"'
       || strftime(make_timestamp((1704067200 + event_id % 86400) * 1000000),
                   '%Y-%m-%dT%H:%M:%S') || 'Z'
       || '","ZoneName":"z' || (event_id % 3) || '"}' AS body
FROM events
"""


def _q_gcp_log_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Google Cloud Logging LogEntry translation
    (`receiver/googlecloudpubsubreceiver/internal/log_entry.go:105-260`):
    synthesize LogEntry JSON from the events table — the full LogSeverity
    table (incl. DEFAULT → unset), nanosecond timestamp fractions,
    resource label snake_casing, trace/span hex (event 0's all-zero ids
    → pdata-unset) — translate, and emit the rows. Oracle recomputes
    every field."""
    from .sources.gcp_logs import gcp_log_records

    ensure_shipped(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    eid = F.col("event_id")
    hexid = F.lower(F.conv(eid.cast("string"), 10, 16))
    ts = F.from_unixtime(
        F.lit(1704067200) + eid % 86400, "yyyy-MM-dd'T'HH:mm:ss"
    )
    sev = (
        F.when(eid % 9 == 0, F.lit("DEBUG"))
        .when(eid % 9 == 1, F.lit("INFO"))
        .when(eid % 9 == 2, F.lit("NOTICE"))
        .when(eid % 9 == 3, F.lit("WARNING"))
        .when(eid % 9 == 4, F.lit("ERROR"))
        .when(eid % 9 == 5, F.lit("CRITICAL"))
        .when(eid % 9 == 6, F.lit("ALERT"))
        .when(eid % 9 == 7, F.lit("EMERGENCY"))
        .otherwise(F.lit("DEFAULT"))
    )
    docs = ev.select(
        F.concat(
            F.lit('{"insertId":"u'), eid.cast("string"),
            F.lit('","timestamp":"'), ts,
            F.when(eid % 3 == 0, F.lit(".123456789")).otherwise(F.lit("")),
            F.lit('Z","receiveTimestamp":"'), ts,
            F.lit('Z","logName":"projects/p/logs/l'), (eid % 3).cast("string"),
            F.lit('","severity":"'), sev,
            F.lit('","textPayload":"evt '), eid.cast("string"),
            F.lit(" "), F.col("event_type"),
            F.lit('","resource":{"type":"gce_instance","labels":'
                  '{"projectId":"p'), (eid % 4).cast("string"),
            F.lit('"}},"trace":"projects/p/traces/'),
            F.lpad(hexid, 32, "0"),
            F.lit('","spanId":"'), F.lpad(hexid, 16, "0"),
            F.lit('","labels":{"env":"e'), (eid % 5).cast("string"),
            F.lit('"}}'),
        ).alias("value")
    )
    recs = gcp_log_records(docs)
    return recs.select(
        "time_unix_nano",
        "observed_time_unix_nano",
        "severity_number",
        "severity_text",
        "body",
        F.col("attributes")["log.record.uid"].alias("uid"),
        F.col("attributes")["gcp.log_name"].alias("log_name"),
        F.col("attributes")["env"].alias("env"),
        F.col("resource")["gcp.resource_type"].alias("rtype"),
        F.col("resource")["gcp.project_id"].alias("project"),
        "trace_id",
        "span_id",
    )


_SQL_GCP_LOGS = """
SELECT CAST((1704067200 + event_id % 86400) * 1000000000 AS BIGINT)
         + CASE WHEN event_id % 3 = 0 THEN 123456789 ELSE 0 END
         AS time_unix_nano,
       CAST((1704067200 + event_id % 86400) * 1000000000 AS BIGINT)
         AS observed_time_unix_nano,
       CAST(CASE event_id % 9
         WHEN 0 THEN 5 WHEN 1 THEN 9 WHEN 2 THEN 10 WHEN 3 THEN 13
         WHEN 4 THEN 17 WHEN 5 THEN 21 WHEN 6 THEN 22 WHEN 7 THEN 24
         ELSE 0 END AS INT) AS severity_number,
       CASE event_id % 9
         WHEN 0 THEN 'DEBUG' WHEN 1 THEN 'INFO' WHEN 2 THEN 'NOTICE'
         WHEN 3 THEN 'WARNING' WHEN 4 THEN 'ERROR' WHEN 5 THEN 'CRITICAL'
         WHEN 6 THEN 'ALERT' WHEN 7 THEN 'EMERGENCY'
         ELSE 'DEFAULT' END AS severity_text,
       'evt ' || event_id || ' ' || event_type AS body,
       'u' || event_id AS uid,
       'projects/p/logs/l' || (event_id % 3) AS log_name,
       'e' || (event_id % 5) AS env,
       'gce_instance' AS rtype,
       'p' || (event_id % 4) AS project,
       CASE WHEN event_id = 0 THEN ''
            ELSE lpad(lower(to_hex(event_id)), 32, '0') END AS trace_id,
       CASE WHEN event_id = 0 THEN ''
            ELSE lpad(lower(to_hex(event_id)), 16, '0') END AS span_id
FROM events
"""


def _q_firehose_cwmetrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """awsfirehosereceiver cwmetrics record type
    (`receiver/awsfirehosereceiver/receiver.go:150-260`,
    `internal/unmarshaler/cwmetricstream/`): synthesize full Firehose
    HTTP requests from the events table — base64 records of
    newline-joined CloudWatch metric-stream JSON datums, a duplicate
    datapoint (dropped by the (timestamp, fmt.Sprint(dims)) key), an
    invalid datum (empty unit, skipped), every 10th request entirely
    invalid (rejected, contributes no rows), AWS/-vs-custom namespace
    service splitting, fractional counts (uint64 truncation), and a
    common-attributes header whose cloud.region never overwrites the
    CloudWatch resource value. Oracle recomputes every datapoint
    closed-form."""
    from .sources.firehose_receiver import firehose_cwmetrics

    ensure_shipped(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    eid = F.col("event_id")

    def s(col):  # int-ish column → JSON number/string fragment
        if not isinstance(col, F.Column):
            col = F.lit(col)
        return col.cast("string")

    def d(col):  # double column/literal → JSON number fragment
        if not isinstance(col, F.Column):
            col = F.lit(col)
        return col.cast("double").cast("string")

    ns = (
        F.when(eid % 3 == 0, F.lit("AWS/EC2"))
        .when(eid % 3 == 1, F.lit("aws/Firehose"))
        .otherwise(F.lit("Custom NS"))
    )
    reject = eid % 10 == 9
    unit_a = F.when(reject, F.lit("")).otherwise(F.lit("Percent"))
    unit_c = F.when(reject, F.lit("")).otherwise(F.lit("Bytes"))

    def datum(metric_name, unit, ts_ms, mn, mx, sm, cnt):
        return F.concat(
            F.lit('{"metric_stream_name":"s'), s(eid % 5),
            F.lit('","account_id":"'), s(eid % 1000),
            F.lit('","region":"us-'), s(eid % 2),
            F.lit('","namespace":"'), ns,
            F.lit('","metric_name":"'), metric_name,
            F.lit('","dimensions":{"InstanceId":"i-'), s(eid % 7),
            F.lit('","az":"a'), s(eid % 2),
            F.lit('"},"timestamp":'), s(ts_ms),
            F.lit(',"value":{"max":'), d(mx),
            F.lit(',"min":'), d(mn),
            F.lit(',"sum":'), d(sm),
            F.lit(',"count":'), d(cnt),
            F.lit('},"unit":"'), unit, F.lit('"}'),
        )

    m_name = F.concat(F.lit("m"), s(eid % 4))
    ts0 = F.lit(1704067200000) + (eid % 86400) * 1000
    datum_a = datum(
        m_name, unit_a, ts0,
        (eid % 10) * 0.5, (eid % 10) + 2.25, (eid % 100) * 1.25,
        (eid % 5) + 0.9,
    )
    # same (timestamp, dims) as A → dropped regardless of its values
    datum_dup = datum(
        m_name, unit_a, ts0,
        (eid % 10) * 0.5, (eid % 10) + 2.25, (eid % 100) * 1.25 + 7,
        (eid % 5) + 0.9,
    )
    datum_invalid = datum(m_name, F.lit(""), ts0, 0.0, 0.0, 0.0, 0.0)
    datum_b = datum(
        m_name, unit_a, ts0 + 60000,
        (eid % 10) * 0.5 + 1, (eid % 10) + 3.25, (eid % 100) * 1.25 + 1,
        (eid % 5) + 1.9,
    )
    datum_c = datum(F.lit("net"), unit_c, ts0, 0.5, 2.5, 3.75, 3.0)

    def b64(col):
        # Spark's base64 is MIME-chunked; Firehose data is unchunked std
        return F.regexp_replace(
            F.base64(F.encode(col, "UTF-8")), "[\\r\\n]", ""
        )

    rec0 = F.concat_ws("\n", datum_a, datum_dup, datum_invalid)
    rec1 = F.concat(F.concat_ws("\n", datum_b, datum_c), F.lit("\n"))
    body = F.concat(
        F.lit('{"requestId":"r'), s(eid),
        F.lit('","timestamp":1704067200123,"records":[{"data":"'),
        b64(rec0), F.lit('"},{"data":"'), b64(rec1), F.lit('"}]}'),
    )
    common = F.concat(
        F.lit('{"commonAttributes":{"env":"e'), s(eid % 3),
        F.lit('","cloud.region":"X"}}'),
    )
    reqs = ev.select(
        F.concat(F.lit("r"), s(eid)).alias("request_id"),
        body.alias("body"),
        common.alias("common"),
    )
    dps = firehose_cwmetrics(reqs, common_col="common")
    return dps.select(
        "request_id",
        "metric_name",
        "unit",
        "time_unix_nano",
        F.col("resource")["cloud.provider"].alias("provider"),
        F.col("resource")["cloud.account.id"].alias("account"),
        F.col("resource")["cloud.region"].alias("region"),
        F.col("resource")["service.namespace"].alias("service_namespace"),
        F.col("resource")["service.name"].alias("service_name"),
        F.col("resource")["aws.cloudwatch.metric_stream_name"].alias(
            "stream_name"
        ),
        F.col("resource")["env"].alias("env"),
        F.col("dimensions")["InstanceId"].alias("dim_instance"),
        F.col("dimensions")["az"].alias("dim_az"),
        F.col("count").alias("cnt"),
        F.col("sum").alias("sum_v"),
        F.col("min").alias("min_v"),
        F.col("max").alias("max_v"),
    )


_SQL_FIREHOSE = """
WITH ev AS (SELECT event_id FROM events WHERE event_id % 10 <> 9),
dp AS (
  SELECT event_id, 0 AS kind FROM ev
  UNION ALL SELECT event_id, 1 FROM ev
  UNION ALL SELECT event_id, 2 FROM ev
)
SELECT 'r' || event_id AS request_id,
       CASE WHEN kind = 2 THEN 'net' ELSE 'm' || (event_id % 4) END
         AS metric_name,
       CASE WHEN kind = 2 THEN 'Bytes' ELSE 'Percent' END AS unit,
       CAST((1704067200000 + (event_id % 86400) * 1000
             + CASE WHEN kind = 1 THEN 60000 ELSE 0 END) * 1000000 AS BIGINT)
         AS time_unix_nano,
       'aws' AS provider,
       CAST(event_id % 1000 AS VARCHAR) AS account,
       'us-' || (event_id % 2) AS region,
       CASE event_id % 3 WHEN 0 THEN 'AWS' WHEN 1 THEN 'aws' ELSE NULL END
         AS service_namespace,
       CASE event_id % 3 WHEN 0 THEN 'EC2' WHEN 1 THEN 'Firehose'
            ELSE 'Custom NS' END AS service_name,
       's' || (event_id % 5) AS stream_name,
       'e' || (event_id % 3) AS env,
       'i-' || (event_id % 7) AS dim_instance,
       'a' || (event_id % 2) AS dim_az,
       CAST(CASE kind WHEN 0 THEN event_id % 5 WHEN 1 THEN event_id % 5 + 1
            ELSE 3 END AS BIGINT) AS cnt,
       CAST(CASE kind WHEN 0 THEN (event_id % 100) * 1.25
            WHEN 1 THEN (event_id % 100) * 1.25 + 1 ELSE 3.75 END AS DOUBLE)
         AS sum_v,
       CAST(CASE kind WHEN 0 THEN (event_id % 10) * 0.5
            WHEN 1 THEN (event_id % 10) * 0.5 + 1 ELSE 0.5 END AS DOUBLE)
         AS min_v,
       CAST(CASE kind WHEN 0 THEN (event_id % 10) + 2.25
            WHEN 1 THEN (event_id % 10) + 3.25 ELSE 2.5 END AS DOUBLE)
         AS max_v
FROM dp
"""


def _q_cwlogs_marshal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """awscloudwatchlogsexporter
    (`exporter/awscloudwatchlogsexporter/exporter.go:160-250`,
    `internal/aws/cwlogs/pusher.go:63-174`): flat log records from the
    events table → cwLogBody message JSON (struct field order +
    omitempty + Go-JSON sorted attribute maps) → validated events
    (every 97th record is 15 days old and dropped by the 14-day
    window) → per-stream PutLogEvents batch assignment (500-event cap
    here so ~20 batches exercise rotation) with the stable timestamp
    sort. Oracle rebuilds every message string and replays the batch
    arithmetic closed-form."""
    from .operators.cwlogs_exporter import (
        assign_cwlog_batches,
        cwlog_events,
    )

    ensure_shipped(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    eid = F.col("event_id")
    base_ms = 1704067200000
    ts_ms = (
        F.lit(base_ms)
        + (eid % 86400) * 1000
        - F.when(eid % 97 == 0, F.lit(15 * 24 * 3600 * 1000)).otherwise(
            F.lit(0)
        )
    )
    hex1 = F.lower(F.conv((eid + 1).cast("string"), 10, 16))
    rec = ev.select(
        eid.alias("arrival"),
        (ts_ms * 1_000_000).cast("long").alias("time_unix_nano"),
        F.concat(
            F.lit("evt "), eid.cast("string"), F.lit(" "),
            F.col("event_type"),
        ).alias("body"),
        (eid % 5).cast("int").alias("severity_number"),
        F.when(eid % 5 == 0, F.lit("")).otherwise(
            F.concat(F.lit("S"), (eid % 5).cast("string"))
        ).alias("severity_text"),
        (eid % 11).cast("int").alias("dropped_attributes_count"),
        (eid % 2).cast("int").alias("flags"),
        F.when(eid % 3 == 0, F.lpad(hex1, 32, "0")).otherwise(
            F.lit("")
        ).alias("trace_id"),
        F.when(eid % 4 == 0, F.lpad(hex1, 16, "0")).otherwise(
            F.lit("")
        ).alias("span_id"),
        F.create_map(
            F.lit("env"), F.concat(F.lit("e"), (eid % 4).cast("string")),
            F.lit("k"), (eid % 7).cast("string"),
        ).alias("attributes"),
        F.create_map(
            F.lit("team"), F.concat(F.lit("t"), (eid % 6).cast("string")),
        ).alias("resource"),
        F.when(eid % 2 == 0, F.lit("lib")).otherwise(F.lit("")).alias(
            "scope_name"
        ),
        F.lit("1.0").alias("scope_version"),
    )
    events = cwlog_events(
        rec, "app-logs", "collector-0", now_ms=base_ms + 86400000
    )
    batched = assign_cwlog_batches(events, max_batch_events=500)
    return batched.select(
        "arrival", "group_name", "stream_name", "batch_id", "seq",
        "timestamp_ms", "message",
    )


_SQL_CWLOGS = """
WITH kept AS (
  SELECT event_id, event_type,
         1704067200000 + (event_id % 86400) * 1000 AS ts_ms,
         row_number() OVER (ORDER BY event_id) - 1 AS rn
  FROM events WHERE event_id % 97 <> 0
)
SELECT event_id AS arrival,
       'app-logs' AS group_name,
       'collector-0' AS stream_name,
       CAST(rn // 500 AS INT) AS batch_id,
       CAST(row_number() OVER (PARTITION BY rn // 500
                               ORDER BY ts_ms, event_id) - 1 AS INT) AS seq,
       ts_ms AS timestamp_ms,
       '{"body":"evt ' || event_id || ' ' || event_type || '"'
       || CASE WHEN event_id % 5 <> 0
               THEN ',"severity_number":' || (event_id % 5)
                    || ',"severity_text":"S' || (event_id % 5) || '"'
               ELSE '' END
       || CASE WHEN event_id % 11 <> 0
               THEN ',"dropped_attributes_count":' || (event_id % 11)
               ELSE '' END
       || CASE WHEN event_id % 2 <> 0 THEN ',"flags":1' ELSE '' END
       || CASE WHEN event_id % 3 = 0
               THEN ',"trace_id":"'
                    || lpad(lower(to_hex(event_id + 1)), 32, '0') || '"'
               ELSE '' END
       || CASE WHEN event_id % 4 = 0
               THEN ',"span_id":"'
                    || lpad(lower(to_hex(event_id + 1)), 16, '0') || '"'
               ELSE '' END
       || ',"attributes":{"env":"e' || (event_id % 4) || '","k":"'
       || (event_id % 7) || '"}'
       || CASE WHEN event_id % 2 = 0
               THEN ',"scope":{"name":"lib","version":"1.0"}' ELSE '' END
       || ',"resource":{"team":"t' || (event_id % 6) || '"}}' AS message
FROM kept
"""


def _q_clickhouse_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """clickhouseexporter log path
    (`exporter/clickhouseexporter/exporter_logs.go:88-105`): flat log
    records synthesized from the events table → the 15-column INSERT
    row shape (pure codegen select). Every 4th record's resource lacks
    ``service.name`` → ServiceName "" (the reference's sticky-variable
    quirk is documented as a divergence in the module docstring).
    Oracle recomputes every bound column closed-form."""
    from .operators.clickhouse_exporter import clickhouse_log_rows

    ensure_shipped(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    eid = F.col("event_id")
    hex1 = F.lower(F.conv((eid + 1).cast("string"), 10, 16))
    svc_map = F.when(
        eid % 4 == 0, F.create_map().cast("map<string,string>")
    ).otherwise(
        F.create_map(
            F.lit("service.name"),
            F.concat(F.lit("svc"), (eid % 3).cast("string")),
        )
    )
    rec = ev.select(
        eid.alias("arrival"),
        (
            F.lit(1704067200_000000000) + (eid % 86400) * 1_000_000_000
        ).cast("long").alias("time_unix_nano"),
        F.when(eid % 3 == 0, F.lpad(hex1, 32, "0")).otherwise(F.lit(""))
        .alias("trace_id"),
        F.when(eid % 5 == 0, F.lpad(hex1, 16, "0")).otherwise(F.lit(""))
        .alias("span_id"),
        (eid % 2).cast("int").alias("flags"),
        F.concat(F.lit("S"), (eid % 5).cast("string")).alias("severity_text"),
        (eid % 25).cast("int").alias("severity_number"),
        F.concat(
            F.lit("evt "), eid.cast("string"), F.lit(" "),
            F.col("event_type"),
        ).alias("body"),
        F.map_concat(
            F.create_map(
                F.lit("team"), F.concat(F.lit("t"), (eid % 6).cast("string"))
            ),
            svc_map,
        ).alias("resource"),
        F.create_map(
            F.lit("k"), (eid % 7).cast("string")
        ).alias("attributes"),
        F.when(eid % 2 == 0, F.lit("lib")).otherwise(F.lit("")).alias(
            "scope_name"
        ),
        F.lit("1.0").alias("scope_version"),
    )
    rows = clickhouse_log_rows(rec)
    return rows.select(
        "Timestamp",
        "TraceId",
        "SpanId",
        "TraceFlags",
        "SeverityText",
        "SeverityNumber",
        "ServiceName",
        "Body",
        "ResourceSchemaUrl",
        F.col("ResourceAttributes")["team"].alias("res_team"),
        F.col("ResourceAttributes")["service.name"].alias("res_service"),
        "ScopeName",
        "ScopeVersion",
        F.col("LogAttributes")["k"].alias("attr_k"),
    )


_SQL_CLICKHOUSE = """
SELECT CAST(1704067200000000000 + (event_id % 86400) * 1000000000 AS BIGINT)
         AS "Timestamp",
       CASE WHEN event_id % 3 = 0
            THEN lpad(lower(to_hex(event_id + 1)), 32, '0') ELSE '' END
         AS "TraceId",
       CASE WHEN event_id % 5 = 0
            THEN lpad(lower(to_hex(event_id + 1)), 16, '0') ELSE '' END
         AS "SpanId",
       CAST(event_id % 2 AS INT) AS "TraceFlags",
       'S' || (event_id % 5) AS "SeverityText",
       CAST(event_id % 25 AS INT) AS "SeverityNumber",
       CASE WHEN event_id % 4 = 0 THEN ''
            ELSE 'svc' || (event_id % 3) END AS "ServiceName",
       'evt ' || event_id || ' ' || event_type AS "Body",
       '' AS "ResourceSchemaUrl",
       't' || (event_id % 6) AS res_team,
       CASE WHEN event_id % 4 = 0 THEN NULL
            ELSE 'svc' || (event_id % 3) END AS res_service,
       CASE WHEN event_id % 2 = 0 THEN 'lib' ELSE '' END AS "ScopeName",
       '1.0' AS "ScopeVersion",
       CAST(event_id % 7 AS VARCHAR) AS attr_k
FROM events
"""


def _q_mezmo_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mezmoexporter (`exporter/mezmoexporter/exporter.go:76-137`):
    flat records from the events table → marshaled Mezmo ingest lines
    — appname-attribute app, ""→"info" level default, zero-timestamp →
    pinned now, meta assembled from host.name + trace.id + Str()-typed
    log attributes, Go-JSON sorted meta keys. Oracle rebuilds every
    line string closed-form."""
    from .operators.mezmo_exporter import mezmo_lines

    ensure_shipped(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    eid = F.col("event_id")
    now_ms = 1704153600000
    ts_ns = F.when(eid % 13 == 0, F.lit(0)).otherwise(
        (F.lit(1704067200_000000000) + (eid % 86400) * 1_000_000_000)
    ).cast("long")
    hex1 = F.lower(F.conv((eid + 1).cast("string"), 10, 16))
    app_map = F.when(
        eid % 3 == 0, F.create_map().cast("map<string,string>")
    ).otherwise(
        F.create_map(
            F.lit("appname"),
            F.concat(F.lit("app"), (eid % 3).cast("string")),
        )
    )
    res_map = F.when(
        eid % 2 == 0,
        F.create_map(
            F.lit("host.name"), F.concat(F.lit("h"), (eid % 6).cast("string"))
        ),
    ).otherwise(F.create_map().cast("map<string,string>"))
    rec = ev.select(
        F.concat(F.lit("b"), (eid % 4).cast("string")).alias("batch_key"),
        eid.alias("arrival"),
        ts_ns.alias("time_unix_nano"),
        F.concat(
            F.lit("evt "), eid.cast("string"), F.lit(" "),
            F.col("event_type"),
        ).alias("body"),
        F.when(eid % 5 == 0, F.lit("")).otherwise(
            F.concat(F.lit("S"), (eid % 5).cast("string"))
        ).alias("severity_text"),
        F.when(eid % 4 == 0, F.lpad(hex1, 32, "0")).otherwise(F.lit(""))
        .alias("trace_id"),
        F.map_concat(
            app_map, F.create_map(F.lit("k"), (eid % 7).cast("string"))
        ).alias("attributes"),
        res_map.alias("resource"),
    )
    return mezmo_lines(rec, now_ms=now_ms)


_SQL_MEZMO = """
SELECT 'b' || (event_id % 4) AS batch_key,
       event_id AS arrival,
       CASE WHEN event_id % 13 = 0 THEN 1704153600000
            ELSE 1704067200000 + (event_id % 86400) * 1000 END
         AS timestamp_ms,
       '{"timestamp":'
       || CASE WHEN event_id % 13 = 0 THEN 1704153600000
               ELSE 1704067200000 + (event_id % 86400) * 1000 END
       || ',"line":"evt ' || event_id || ' ' || event_type || '"'
       || ',"app":"'
       || CASE WHEN event_id % 3 = 0 THEN '' ELSE 'app' || (event_id % 3) END
       || '","level":"'
       || CASE WHEN event_id % 5 = 0 THEN 'info'
               ELSE 'S' || (event_id % 5) END
       || '","meta":{'
       || CASE WHEN event_id % 3 <> 0
               THEN '"appname":"app' || (event_id % 3) || '",' ELSE '' END
       || CASE WHEN event_id % 2 = 0
               THEN '"hostname":"h' || (event_id % 6) || '",' ELSE '' END
       || '"k":"' || (event_id % 7) || '"'
       || CASE WHEN event_id % 4 = 0
               THEN ',"trace.id":"'
                    || lpad(lower(to_hex(event_id + 1)), 32, '0') || '"'
               ELSE '' END
       || '}}' AS line_json
FROM events
"""


def _q_opensearch_sso(spark: SparkSession, sf_dir: str) -> DataFrame:
    """opensearchexporter SS4O mode (`exporter/opensearchexporter/
    encoder.go:54-99`): flat records from the events table → SS4O
    documents — struct field order, omitempty (zero severities, empty
    ids), data_stream injection into attributes, Go time.Time
    RFC 3339 rendering, ss4o index naming + create action lines.
    Oracle rebuilds every document closed-form."""
    from .operators.opensearch_exporter import opensearch_bulk_lines

    ensure_shipped(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    eid = F.col("event_id")
    hex1 = F.lower(F.conv((eid + 1).cast("string"), 10, 16))
    rec = ev.select(
        eid.alias("arrival"),
        (
            F.lit(1704067200_000000000) + (eid % 86400) * 1_000_000_000
        ).cast("long").alias("time_unix_nano"),
        F.concat(
            F.lit("evt "), eid.cast("string"), F.lit(" "),
            F.col("event_type"),
        ).alias("body"),
        F.when(eid % 5 == 0, F.lit("")).otherwise(
            F.concat(F.lit("S"), (eid % 5).cast("string"))
        ).alias("severity_text"),
        (eid % 25).cast("int").alias("severity_number"),
        F.when(eid % 3 == 0, F.lpad(hex1, 32, "0")).otherwise(F.lit(""))
        .alias("trace_id"),
        F.when(eid % 5 == 0, F.lpad(hex1, 16, "0")).otherwise(F.lit(""))
        .alias("span_id"),
        F.create_map(F.lit("k"), (eid % 7).cast("string")).alias(
            "attributes"
        ),
        F.create_map(
            F.lit("team"), F.concat(F.lit("t"), (eid % 6).cast("string"))
        ).alias("resource"),
        F.when(eid % 2 == 0, F.lit("lib")).otherwise(F.lit("")).alias(
            "scope_name"
        ),
        F.lit("1.0").alias("scope_version"),
    )
    lines = opensearch_bulk_lines(
        rec.select(
            "arrival", "time_unix_nano", "body", "severity_text",
            "severity_number", "trace_id", "span_id", "attributes",
            "resource", "scope_name", "scope_version",
        ),
        dataset="ds",
        namespace="prod",
        schema_url="https://opentelemetry.io/schemas/1.18.0",
        observed_ns=1704067200_000000000,
    )
    # row order is irrelevant: the compare sorts, and each document
    # embeds its event_id in the body
    return lines.select("action_line", "document")


_SQL_OPENSEARCH = """
SELECT '{"create":{"_index":"ss4o_logs-ds-prod"}}' AS action_line,
       '{"attributes":{"data_stream":{"dataset":"ds","namespace":"prod",'
       || '"type":"record"},"k":"' || (event_id % 7) || '"}'
       || ',"body":"evt ' || event_id || ' ' || event_type || '"'
       || ',"instrumentationScope":{'
       || CASE WHEN event_id % 2 = 0 THEN '"name":"lib",' ELSE '' END
       || '"schemaUrl":"https://opentelemetry.io/schemas/1.18.0"'
       || ',"version":"1.0"}'
       || ',"observedTimestamp":"2024-01-01T00:00:00Z"'
       || ',"resource":{"team":"t' || (event_id % 6) || '"}'
       || ',"schemaUrl":"https://opentelemetry.io/schemas/1.18.0"'
       || ',"severity":{'
       || CASE WHEN event_id % 5 <> 0
               THEN '"text":"S' || (event_id % 5) || '"' ELSE '' END
       || CASE WHEN event_id % 25 <> 0
               THEN CASE WHEN event_id % 5 <> 0 THEN ',' ELSE '' END
                    || '"number":' || (event_id % 25)
               ELSE '' END
       || '}'
       || CASE WHEN event_id % 5 = 0
               THEN ',"spanId":"'
                    || lpad(lower(to_hex(event_id + 1)), 16, '0') || '"'
               ELSE '' END
       || ',"@timestamp":"'
       || strftime(make_timestamp((1704067200 + event_id % 86400) * 1000000),
                   '%Y-%m-%dT%H:%M:%S') || 'Z"'
       || CASE WHEN event_id % 3 = 0
               THEN ',"traceId":"'
                    || lpad(lower(to_hex(event_id + 1)), 32, '0') || '"'
               ELSE '' END
       || '}' AS document
FROM events
"""


def _q_kinesis_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """awskinesisexporter (`internal/batch/encode_marshaler.go:29-58`,
    `batch.go:79-117`): one otlp_json record per resource group (500
    teams), md5-pinned partition keys, 64-record PutRecords chunking —
    then every record's bytes decode BACK through the otlpjson parser
    and join their chunk metadata, so grouping, marshaling, and chunk
    arithmetic are all value-checked. Oracle recomputes rows + chunk
    assignment closed-form (DuckDB md5 = the same pinned key)."""
    from .operators.kinesis_exporter import kinesis_put_records
    from .sources.readers import parse_otlp_json

    ensure_shipped(spark)
    ensure_utc(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    eid = F.col("event_id")
    rec = ev.select(
        (
            (F.lit(1704067200) + eid % 86400) * F.lit(1_000_000_000)
        ).cast("long").alias("time_unix_nano"),
        (eid % 24 + 1).cast("int").alias("severity_number"),
        F.col("event_type").alias("severity_text"),
        F.concat(F.lit("evt <"), eid.cast("string"), F.lit(">")).alias(
            "body"
        ),
        F.create_map(F.lit("k"), (eid % 5).cast("string")).alias(
            "attributes"
        ),
        F.create_map(
            F.lit("team"), F.concat(F.lit("t"), (eid % 500).cast("string"))
        ).alias("resource"),
        F.lit("recv/kinesis").alias("scope_name"),
        F.lit("").alias("trace_id"),
        F.lit("").alias("span_id"),
    )
    recs = kinesis_put_records(
        rec, encoding="otlp_json", max_records_per_batch=64
    )
    decoded = parse_otlp_json(
        recs.select(
            F.col("data").cast("string").alias("value"),
            "partition_key", "chunk_id", "seq",
        ),
        json_col="value",
    )
    # parse_otlp_json keeps only the flattened record columns; re-join
    # the chunk metadata through the pinned md5 key
    meta = recs.select("partition_key", "chunk_id", "seq")
    keyed = decoded.withColumn(
        "partition_key",
        F.md5(
            F.concat(
                F.lit('{"team":"'), F.col("resource")["team"], F.lit('"}')
            )
        ),
    )
    out = keyed.join(F.broadcast(meta), "partition_key")
    return out.select(
        F.unix_timestamp(F.col("ts")).cast("long").alias("ts_unix"),
        "severity_number",
        "severity_text",
        "body",
        F.col("attributes")["k"].alias("attr_k"),
        F.col("resource")["team"].alias("team"),
        "partition_key",
        "chunk_id",
        "seq",
    )


_SQL_KINESIS = """
WITH keys AS (
  SELECT DISTINCT md5('{"team":"t' || (event_id % 500) || '"}') AS pk
  FROM events
), ordered AS (
  SELECT pk, row_number() OVER (ORDER BY pk) - 1 AS rn FROM keys
)
SELECT CAST(1704067200 + e.event_id % 86400 AS BIGINT) AS ts_unix,
       CAST(e.event_id % 24 + 1 AS INT) AS severity_number,
       e.event_type AS severity_text,
       'evt <' || e.event_id || '>' AS body,
       CAST(e.event_id % 5 AS VARCHAR) AS attr_k,
       't' || (e.event_id % 500) AS team,
       o.pk AS partition_key,
       CAST(o.rn // 64 AS INT) AS chunk_id,
       CAST(o.rn % 64 AS INT) AS seq
FROM events e
JOIN ordered o ON o.pk = md5('{"team":"t' || (e.event_id % 500) || '"}')
"""


def _q_sls_log_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """alibabacloudlogservice exporter
    (`logsdata_to_logservice.go:36-190`): flat records from the events
    table → SLS content columns — host/service extraction with ""
    fallbacks, leftover-resource + attribute Go-JSON, decimal ns
    strings, hex flags, every 17th record's body NULL (skipped like
    ValueTypeEmpty), every 13th timestamp zero (Time = pinned now).
    Oracle recomputes every content value closed-form."""
    from .operators.alibaba_logservice_exporter import sls_log_rows

    ensure_shipped(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    eid = F.col("event_id")
    now_sec = 1704153600
    ts_ns = F.when(eid % 13 == 0, F.lit(0)).otherwise(
        F.lit(1704067200_000000000)
        + (eid % 86400) * 1_000_000_000
        + eid % 1000
    ).cast("long")
    hex1 = F.lower(F.conv((eid + 1).cast("string"), 10, 16))
    res = F.map_concat(
        F.when(
            eid % 2 == 0,
            F.create_map(
                F.lit("host.name"),
                F.concat(F.lit("h"), (eid % 5).cast("string")),
            ),
        ).otherwise(F.create_map().cast("map<string,string>")),
        F.create_map(
            F.lit("service.name"),
            F.concat(F.lit("svc"), (eid % 3).cast("string")),
            F.lit("team"),
            F.concat(F.lit("t"), (eid % 6).cast("string")),
        ),
    )
    rec = ev.select(
        ts_ns.alias("time_unix_nano"),
        F.when(eid % 17 == 0, F.lit(None).cast("string")).otherwise(
            F.concat(
                F.lit("evt "), eid.cast("string"), F.lit(" "),
                F.col("event_type"),
            )
        ).alias("body"),
        (eid % 25).cast("int").alias("severity_number"),
        F.concat(F.lit("S"), (eid % 5).cast("string")).alias(
            "severity_text"
        ),
        (eid % 300).cast("int").alias("flags"),
        F.create_map(F.lit("k"), (eid % 7).cast("string")).alias(
            "attributes"
        ),
        res.alias("resource"),
        F.lit("lib").alias("scope_name"),
        F.lit("1.0").alias("scope_version"),
        F.when(eid % 3 == 0, F.lpad(hex1, 32, "0")).otherwise(F.lit(""))
        .alias("trace_id"),
        F.lit("").alias("span_id"),
    )
    return sls_log_rows(rec, now_sec=now_sec)


_SQL_SLS = """
SELECT CASE WHEN event_id % 2 = 0 THEN 'h' || (event_id % 5) ELSE '' END
         AS host,
       'svc' || (event_id % 3) AS service,
       '{"team":"t' || (event_id % 6) || '"}' AS resource_json,
       'lib' AS otlp_name,
       '1.0' AS otlp_version,
       CAST(CASE WHEN event_id % 13 = 0 THEN 0
            ELSE 1704067200000000000 + (event_id % 86400) * 1000000000
                 + event_id % 1000 END AS VARCHAR) AS time_unix_nano,
       CAST(event_id % 25 AS VARCHAR) AS severity_number,
       'S' || (event_id % 5) AS severity_text,
       '{"k":"' || (event_id % 7) || '"}' AS attribute_json,
       'evt ' || event_id || ' ' || event_type AS content,
       lower(to_hex(event_id % 300)) AS flags_hex,
       CASE WHEN event_id % 3 = 0
            THEN lpad(lower(to_hex(event_id + 1)), 32, '0') ELSE '' END
         AS trace_id,
       '' AS span_id,
       CAST(CASE WHEN event_id % 13 = 0 THEN 1704153600
            ELSE 1704067200 + event_id % 86400 END AS BIGINT) AS time_sec
FROM events
WHERE event_id % 17 <> 0
"""


def _q_pubsub_watermarks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """googlecloudpubsubexporter (`exporter.go:112-156`,
    `watermark.go:33-60`): 20 batches from the events table → one
    Pub/Sub message each — CloudEvents attributes, earliest-watermark
    ce-time (JVM min with drift clamps), and the otlp_proto payload
    decoded BACK to a per-batch record count so the marshal
    round-trips. Oracle recomputes attributes, watermark, and counts
    closed-form."""
    from pyspark.sql import types as T

    from .functions.otlp_proto import decode_logs
    from .operators.pubsub_exporter import (
        ce_time_attr,
        logs_watermark,
        pubsub_messages,
    )

    ensure_shipped(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    eid = F.col("event_id")
    base = 1704067200_000000000
    processing = base + 86400 * 1_000_000_000
    drift = 86400 * 1_000_000_000
    rec = ev.select(
        F.concat(F.lit("b"), (eid % 20).cast("string")).alias("batch_key"),
        (F.lit(base) + (eid % 86400) * 1_000_000_000).cast("long").alias(
            "time_unix_nano"
        ),
        (eid % 24 + 1).cast("int").alias("severity_number"),
        F.col("event_type").alias("severity_text"),
        F.concat(F.lit("evt "), eid.cast("string")).alias("body"),
        F.create_map(F.lit("k"), (eid % 5).cast("string")).alias(
            "attributes"
        ),
        F.create_map(
            F.lit("team"), F.concat(F.lit("t"), (eid % 6).cast("string"))
        ).alias("resource"),
        F.lit("recv/pubsub").alias("scope_name"),
        F.lit("").alias("trace_id"),
        F.lit("").alias("span_id"),
    )
    msgs = pubsub_messages(rec, ce_source="otelcol/pubsub")
    wm = logs_watermark(
        rec, "earliest", processing_time_ns=processing,
        allowed_drift_ns=drift,
    )

    @F.pandas_udf(T.IntegerType())
    def record_count(data: pd.Series) -> pd.Series:
        return data.map(lambda b: len(decode_logs(bytes(b))))

    @F.pandas_udf(T.StringType())
    def ce_time(ns: pd.Series) -> pd.Series:
        return ns.map(lambda v: ce_time_attr(int(v)))

    return (
        msgs.join(wm, "batch_key")
        .select(
            "batch_key",
            "ce_specversion",
            "ce_source",
            "ce_type",
            "content_type",
            "content_encoding",
            "watermark_ns",
            ce_time(F.col("watermark_ns")).alias("ce_time"),
            record_count(F.col("data")).alias("record_count"),
        )
    )


_SQL_PUBSUB = """
WITH b AS (
  SELECT 'b' || (event_id % 20) AS batch_key,
         1704067200000000000 + (event_id % 86400) * 1000000000 AS ts
  FROM events
)
SELECT batch_key,
       '1.0' AS ce_specversion,
       'otelcol/pubsub' AS ce_source,
       'org.opentelemetry.otlp.logs.v1' AS ce_type,
       'application/protobuf' AS content_type,
       '' AS content_encoding,
       CAST(min(ts) AS BIGINT) AS watermark_ns,
       strftime(make_timestamp(CAST(min(ts) // 1000 AS BIGINT)),
                '%Y-%m-%dT%H:%M:%S') || 'Z' AS ce_time,
       CAST(count(*) AS INT) AS record_count
FROM b GROUP BY batch_key
"""


def _q_sqlquery_logs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sqlqueryreceiver log path
    (`receiver/sqlqueryreceiver/logs_receiver.go:200-330`): two
    incremental collects over the events table as the SQL source —
    the parameterized tracking predicate windows each poll to 5999
    ids, the tracking value advances to the last collected id, and
    each collect stamps its own observed timestamp. Output = union of
    both collects; oracle recomputes the windows closed-form."""
    from .sources.sqlquery_receiver import SqlQueryLogsReceiver

    ensure_shipped(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("sqlq_events")
    sql = (
        "SELECT event_id, 'evt ' || event_id || ' ' || event_type AS body "
        "FROM sqlq_events "
        "WHERE event_id > CAST(:tracking_value AS BIGINT) "
        "AND event_id <= CAST(:tracking_value AS BIGINT) + 5999 "
        "ORDER BY event_id"
    )
    r = SqlQueryLogsReceiver(
        spark, sql, ["body"], tracking_column="event_id",
        tracking_start_value="-1",
    )
    r.start()
    first = r.collect(observed_ns=42).withColumn(
        "collect_index", F.lit(0).cast("int")
    )
    second = r.collect(observed_ns=43).withColumn(
        "collect_index", F.lit(1).cast("int")
    )
    return first.unionAll(second).select(
        "collect_index", "logs_config_index", "body",
        "observed_time_unix_nano",
    )


_SQL_SQLQUERY = """
SELECT CASE WHEN event_id <= 5998 THEN 0 ELSE 1 END AS collect_index,
       0 AS logs_config_index,
       'evt ' || event_id || ' ' || event_type AS body,
       CAST(CASE WHEN event_id <= 5998 THEN 42 ELSE 43 END AS BIGINT)
         AS observed_time_unix_nano
FROM events
"""


def _q_mongodb_logs_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mongodbatlasreceiver host-log path (`log_decoder.go:29-55`,
    `mongodb_event_to_logdata.go:147-201`): synthesize MongoDB 4.4
    structured JSON log lines from the events table — full severity
    table incl. an unknown code (unset), exact-3-digit millisecond
    timestamps, typed attr values rendered to the string schema,
    every 19th line malformed and skipped. Oracle rebuilds every
    field (and the raw-line body) closed-form."""
    from .sources.mongodbatlas_receiver import mongodb_log_records

    ensure_shipped(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    eid = F.col("event_id")
    sev = F.element_at(
        F.array(*[F.lit(s) for s in
                  ["F", "E", "W", "I", "D", "D1", "D2", "D3", "D4", "D5",
                   "X"]]),
        (eid % 11 + 1).cast("int"),
    )
    date = F.concat(
        F.from_unixtime(
            F.lit(1704067200) + eid % 86400, "yyyy-MM-dd'T'HH:mm:ss"
        ),
        F.lit("."),
        F.lpad((eid % 1000).cast("string"), 3, "0"),
        F.lit("+00:00"),
    )
    line = F.when(eid % 19 == 0, F.lit("oops{")).otherwise(
        F.concat(
            F.lit('{"t":{"$date":"'), date,
            F.lit('"},"s":"'), sev,
            F.lit('","c":"'),
            F.when(eid % 2 == 0, F.lit("NETWORK")).otherwise(
                F.lit("STORAGE")
            ),
            F.lit('","id":'), eid.cast("string"),
            F.lit(',"ctx":"conn'), (eid % 50).cast("string"),
            F.lit('","msg":"evt '), eid.cast("string"),
            F.lit('","attr":{"conn":'), (eid % 97).cast("string"),
            F.lit("}}"),
        )
    )
    recs = mongodb_log_records(
        ev.select(line.alias("value")),
        org="org1", project="proj1", cluster="cl1", region="US_EAST_1",
        provider="AWS", hostname="host-0", log_name="mongodb.gz",
        observed_ns=77,
    )
    return recs.select(
        "time_unix_nano",
        "observed_time_unix_nano",
        "severity_number",
        "severity_text",
        "body",
        F.col("attributes")["message"].alias("message"),
        F.col("attributes")["component"].alias("component"),
        F.col("attributes")["context"].alias("context"),
        F.col("attributes")["id"].alias("log_id"),
        F.col("attributes")["conn"].alias("conn"),
        F.col("attributes")["log_name"].alias("log_name"),
        F.col("resource")["mongodb_atlas.org"].alias("org"),
        F.col("resource")["mongodb_atlas.host.name"].alias("host"),
    )


_SQL_MONGODB = """
WITH src AS (
  SELECT event_id,
         ['F','E','W','I','D','D1','D2','D3','D4','D5','X']
           [event_id % 11 + 1] AS sev,
         strftime(make_timestamp((1704067200 + event_id % 86400) * 1000000),
                  '%Y-%m-%dT%H:%M:%S')
         || '.' || lpad(CAST(event_id % 1000 AS VARCHAR), 3, '0')
         || '+00:00' AS date,
         CASE WHEN event_id % 2 = 0 THEN 'NETWORK' ELSE 'STORAGE' END AS comp
  FROM events WHERE event_id % 19 <> 0
)
SELECT CAST((1704067200 + event_id % 86400) * 1000000000
            + (event_id % 1000) * 1000000 AS BIGINT) AS time_unix_nano,
       CAST(77 AS BIGINT) AS observed_time_unix_nano,
       CAST(CASE sev WHEN 'F' THEN 21 WHEN 'E' THEN 17 WHEN 'W' THEN 13
            WHEN 'I' THEN 9 WHEN 'D' THEN 5 WHEN 'D1' THEN 5
            WHEN 'D2' THEN 6 WHEN 'D3' THEN 7 WHEN 'D4' THEN 8
            WHEN 'D5' THEN 8 ELSE 0 END AS INT) AS severity_number,
       CASE WHEN sev = 'X' THEN '' ELSE sev END AS severity_text,
       '{"t":{"$date":"' || date || '"},"s":"' || sev || '","c":"' || comp
       || '","id":' || event_id || ',"ctx":"conn' || (event_id % 50)
       || '","msg":"evt ' || event_id || '","attr":{"conn":'
       || (event_id % 97) || '}}' AS body,
       'evt ' || event_id AS message,
       comp AS component,
       'conn' || (event_id % 50) AS context,
       CAST(event_id AS VARCHAR) AS log_id,
       CAST(event_id % 97 AS VARCHAR) AS conn,
       'mongodb.gz' AS log_name,
       'org1' AS org,
       'host-0' AS host
FROM src
"""


def _q_k8s_events_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k8seventsreceiver (`k8s_event_to_logdata.go:26-85`,
    `receiver.go:143-155`): synthesize corev1.Event JSON from the
    events table — eventTime-over-lastTimestamp preference (every 4th
    event carries a microsecond eventTime), Normal/Warning/unknown
    severity casing, zero counts omitted, metav1.Time.String()
    start_time rendering. Oracle recomputes every field closed-form."""
    from .sources.k8s_receivers import k8s_event_records

    ensure_shipped(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    eid = F.col("event_id")
    iso = F.concat(
        F.from_unixtime(
            F.lit(1704067200) + eid % 86400, "yyyy-MM-dd'T'HH:mm:ss"
        ),
        F.lit("Z"),
    )
    etype = (
        F.when(eid % 3 == 0, F.lit("Normal"))
        .when(eid % 3 == 1, F.lit("Warning"))
        .otherwise(F.lit("Evicted"))
    )
    event_time = F.when(
        eid % 4 == 0,
        F.concat(
            F.from_unixtime(
                F.lit(1704067200) + eid % 86400, "yyyy-MM-dd'T'HH:mm:ss"
            ),
            F.lit(".123456Z"),
        ),
    )
    line = F.concat(
        F.lit('{"metadata":{"name":"ev'), eid.cast("string"),
        F.lit('","uid":"mu'), eid.cast("string"),
        F.lit('","creationTimestamp":"'), iso,
        F.lit('"},"involvedObject":{"kind":"Pod","name":"p'),
        (eid % 40).cast("string"),
        F.lit('","uid":"ou'), eid.cast("string"),
        F.lit('","apiVersion":"v1","resourceVersion":"'),
        (eid % 1000).cast("string"),
        F.lit('","namespace":"ns'), (eid % 5).cast("string"),
        F.lit('"},"source":{"host":"node-'), (eid % 8).cast("string"),
        F.lit('"},"type":"'), etype,
        F.lit('","reason":"R'), (eid % 6).cast("string"),
        F.lit('","action":"A'), (eid % 3).cast("string"),
        F.lit('","message":"msg '), eid.cast("string"),
        F.lit('","count":'), (eid % 7).cast("string"),
        F.when(
            event_time.isNotNull(),
            F.concat(F.lit(',"eventTime":"'), event_time, F.lit('"')),
        ).otherwise(F.lit("")),
        F.lit(',"lastTimestamp":"'), iso, F.lit('"}'),
    )
    recs = k8s_event_records(ev.select(line.alias("value")), observed_ns=11)
    return recs.select(
        "time_unix_nano",
        "observed_time_unix_nano",
        "severity_number",
        "severity_text",
        "body",
        F.col("attributes")["k8s.event.reason"].alias("reason"),
        F.col("attributes")["k8s.event.start_time"].alias("start_time"),
        F.col("attributes")["k8s.namespace.name"].alias("namespace"),
        F.col("attributes")["k8s.event.count"].alias("count_attr"),
        F.col("resource")["k8s.node.name"].alias("node"),
        F.col("resource")["k8s.object.kind"].alias("kind"),
        F.col("resource")["k8s.object.resource_version"].alias("rv"),
    )


_SQL_K8S_EVENTS = """
SELECT CAST((1704067200 + event_id % 86400) * 1000000000
            + CASE WHEN event_id % 4 = 0 THEN 123456000 ELSE 0 END
            AS BIGINT) AS time_unix_nano,
       CAST(11 AS BIGINT) AS observed_time_unix_nano,
       CAST(CASE event_id % 3 WHEN 0 THEN 9 WHEN 1 THEN 13 ELSE 0 END
            AS INT) AS severity_number,
       CASE event_id % 3 WHEN 0 THEN 'Normal' WHEN 1 THEN 'Warning'
            ELSE '' END AS severity_text,
       'msg ' || event_id AS body,
       'R' || (event_id % 6) AS reason,
       strftime(make_timestamp((1704067200 + event_id % 86400) * 1000000),
                '%Y-%m-%d %H:%M:%S') || ' +0000 UTC' AS start_time,
       'ns' || (event_id % 5) AS namespace,
       CASE WHEN event_id % 7 = 0 THEN NULL
            ELSE CAST(event_id % 7 AS VARCHAR) END AS count_attr,
       'node-' || (event_id % 8) AS node,
       'Pod' AS kind,
       CAST(event_id % 1000 AS VARCHAR) AS rv
FROM events
"""


def _q_dataset_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """datasetexporter (`logs_exporter.go:168-243`,
    `datasetexporter.go:89-168`): flat records from the events table →
    AddEvents bundles — severity bucket table with text fallback on
    zero numbers, the ts → observed fallback, serverHost inference
    (attr beats resource host.name), scope flatten. Oracle recomputes
    every field closed-form."""
    from .operators.dataset_exporter import dataset_events

    ensure_shipped(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    eid = F.col("event_id")
    ts_ns = F.when(eid % 13 == 0, F.lit(0)).otherwise(
        F.lit(1704067200_000000000) + (eid % 86400) * 1_000_000_000
    ).cast("long")
    attrs = F.when(
        eid % 9 == 0,
        F.create_map(
            F.lit("k"), (eid % 7).cast("string"),
            F.lit("serverHost"),
            F.concat(F.lit("ah"), (eid % 4).cast("string")),
        ),
    ).otherwise(
        F.create_map(F.lit("k"), (eid % 7).cast("string"))
    )
    rec = ev.select(
        ts_ns.alias("time_unix_nano"),
        F.lit(88).cast("long").alias("observed_time_unix_nano"),
        (eid % 25).cast("int").alias("severity_number"),
        F.lit("warn").alias("severity_text"),
        F.when(eid % 11 == 0, F.lit("")).otherwise(
            F.concat(F.lit("evt "), eid.cast("string"))
        ).alias("body"),
        attrs.alias("attributes"),
        F.create_map(
            F.lit("host.name"), F.concat(F.lit("h"), (eid % 5).cast("string"))
        ).alias("resource"),
        F.lit("lib").alias("scope_name"),
        F.create_map(F.lit("s"), (eid % 3).cast("string")).alias(
            "scope_attributes"
        ),
        F.when(eid % 3 == 0, F.lpad(
            F.lower(F.conv((eid + 1).cast("string"), 10, 16)), 32, "0"
        )).otherwise(F.lit("")).alias("trace_id"),
        F.lit("").alias("span_id"),
    )
    out = dataset_events(rec)
    return out.select(
        "ts",
        "sev",
        "server_host",
        "log_id",
        "thread_id",
        F.col("attrs")["message"].alias("message"),
        F.col("attrs")["sca:observedTime"].alias("observed_attr"),
        F.col("attrs")["trace_id"].alias("trace_attr"),
        F.col("attrs")["k"].alias("attr_k"),
        F.col("attrs")["scope.name"].alias("scope_name"),
        F.col("attrs")["scope.attributes.s"].alias("scope_s"),
    )


_SQL_DATASET = """
SELECT CASE WHEN event_id % 13 = 0 THEN '88'
            ELSE CAST(1704067200000000000
                      + (event_id % 86400) * 1000000000 AS VARCHAR) END
         AS ts,
       CAST(CASE WHEN event_id % 25 = 0 THEN 4
            ELSE least((event_id % 25 - 1) // 4 + 1, 6) END AS INT) AS sev,
       CASE WHEN event_id % 9 = 0 THEN 'ah' || (event_id % 4)
            ELSE 'h' || (event_id % 5) END AS server_host,
       'LL' AS log_id,
       'TL' AS thread_id,
       CASE WHEN event_id % 11 = 0 THEN NULL
            ELSE 'evt ' || event_id END AS message,
       '88' AS observed_attr,
       CASE WHEN event_id % 3 = 0
            THEN lpad(lower(to_hex(event_id + 1)), 32, '0')
            ELSE NULL END AS trace_attr,
       CAST(event_id % 7 AS VARCHAR) AS attr_k,
       'lib' AS scope_name,
       CAST(event_id % 3 AS VARCHAR) AS scope_s
FROM events
"""


def _q_logzio_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logzioexporter (`jsonlog.go:14-46`, `exporter.go:124-180`):
    flat records from the events table → Logz.io JSON lines — merged
    resource+scope details with collision arrays (every 4th record's
    env key collides), milli timestamps with the skip-zero quirk
    (every 13th record's sub-millisecond ts vanishes), sorted-key
    Go-JSON rendering. Oracle rebuilds every line byte-for-byte."""
    from .operators.logzio_exporter import logzio_lines

    ensure_shipped(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    eid = F.col("event_id")
    hex1 = F.lower(F.conv((eid + 1).cast("string"), 10, 16))
    ts_ns = F.when(eid % 13 == 0, F.lit(500_000)).otherwise(
        (F.lit(1704067200) + eid % 86400) * F.lit(1_000_000_000)
    ).cast("long")
    scope_attrs = F.when(
        eid % 4 == 0,
        F.create_map(
            F.lit("env"), F.concat(F.lit("s"), (eid % 2).cast("string"))
        ),
    ).otherwise(
        F.create_map(
            F.lit("team"), F.concat(F.lit("t"), (eid % 5).cast("string"))
        )
    )
    rec = ev.select(
        ts_ns.alias("time_unix_nano"),
        F.concat(F.lit("evt "), eid.cast("string")).alias("body"),
        F.when(eid % 5 == 0, F.lit("")).otherwise(
            F.concat(F.lit("S"), (eid % 5).cast("string"))
        ).alias("severity_text"),
        F.when(eid % 3 == 0, F.lpad(hex1, 32, "0")).otherwise(F.lit(""))
        .alias("trace_id"),
        F.when(eid % 5 == 0, F.lpad(hex1, 16, "0")).otherwise(F.lit(""))
        .alias("span_id"),
        F.create_map(
            F.lit("env"), F.concat(F.lit("r"), (eid % 3).cast("string"))
        ).alias("resource"),
        scope_attrs.alias("scope_attributes"),
        F.lit("lib").alias("scope_name"),
    )
    return logzio_lines(rec)


_SQL_LOGZIO = """
SELECT '{'
       || CASE WHEN event_id % 13 = 0 THEN ''
               ELSE '"@timestamp":'
                    || CAST((1704067200 + event_id % 86400) * 1000
                            AS VARCHAR) || ',' END
       || '"env":'
       || CASE WHEN event_id % 4 = 0
               THEN '["r' || (event_id % 3) || '","s' || (event_id % 2)
                    || '"]'
               ELSE '"r' || (event_id % 3) || '"' END
       || CASE WHEN event_id % 5 <> 0
               THEN ',"level":"S' || (event_id % 5) || '"' ELSE '' END
       || ',"message":"evt ' || event_id || '"'
       || ',"scopeName":"lib"'
       || CASE WHEN event_id % 5 = 0
               THEN ',"spanID":"'
                    || lpad(lower(to_hex(event_id + 1)), 16, '0') || '"'
               ELSE '' END
       || CASE WHEN event_id % 4 <> 0
               THEN ',"team":"t' || (event_id % 5) || '"' ELSE '' END
       || CASE WHEN event_id % 3 = 0
               THEN ',"traceID":"'
                    || lpad(lower(to_hex(event_id + 1)), 32, '0') || '"'
               ELSE '' END
       || '}' AS line
FROM events
"""


def _q_carbon_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """carbonexporter (`metricdata_to_plaintext.go:82-290`): typed
    datapoints from the events table → Carbon plaintext lines — int
    and Go-'f' double values, histogram count/sum/bucket expansion
    with 'g'-formatted upper bounds + inf, summary quantile*100
    labels, tag paths. Every line recomputed closed-form (values are
    dyadic rationals so the Go float strings are exact string
    arithmetic in SQL)."""
    from .operators.carbon_exporter import carbon_lines

    ensure_shipped(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    eid = F.col("event_id")
    ts = (F.lit(1704067200) + eid % 86400) * F.lit(1_000_000_000)
    kind = eid % 3
    rec = ev.select(
        F.when(kind == 0, F.concat(F.lit("cpu"), (eid % 4).cast("string")))
        .when(kind == 1, F.lit("lat"))
        .otherwise(F.lit("rt")).alias("metric_name"),
        F.when(kind == 0, F.lit("gauge"))
        .when(kind == 1, F.lit("histogram"))
        .otherwise(F.lit("summary")).alias("metric_type"),
        ts.cast("long").alias("time_unix_nano"),
        F.when(
            kind == 0,
            F.create_map(
                F.lit("host"), F.concat(F.lit("h"), (eid % 5).cast("string"))
            ),
        )
        .when(
            kind == 1,
            F.create_map(
                F.lit("svc"), F.concat(F.lit("s"), (eid % 4).cast("string"))
            ),
        )
        .otherwise(F.create_map().cast("map<string,string>"))
        .alias("attributes"),
        F.when((kind == 0) & (eid % 2 == 0), (eid % 100).cast("long"))
        .otherwise(F.lit(None).cast("long")).alias("value_int"),
        F.when((kind == 0) & (eid % 2 == 1), (eid % 100) * 0.25)
        .otherwise(F.lit(None).cast("double")).alias("value_double"),
        F.when(kind == 1, (eid % 50).cast("long"))
        .when(kind == 2, (eid % 30).cast("long"))
        .otherwise(F.lit(None).cast("long")).alias("count"),
        F.when(kind == 1, (eid % 40) * 0.5)
        .when(kind == 2, (eid % 20) * 0.5)
        .otherwise(F.lit(None).cast("double")).alias("sum"),
        F.when(kind == 1, F.array(F.lit(0.5), F.lit(2.0), F.lit(10.0)))
        .otherwise(F.lit(None).cast("array<double>")).alias("bounds"),
        F.when(
            kind == 1,
            F.array(
                (eid % 5).cast("long"), (eid % 7).cast("long"),
                (eid % 3).cast("long"), (eid % 2).cast("long"),
            ),
        ).otherwise(F.lit(None).cast("array<long>")).alias("bucket_counts"),
        F.when(
            kind == 2,
            F.array(
                F.struct(
                    F.lit(0.25).alias("quantile"),
                    ((eid % 8) * 0.25).alias("value"),
                ),
                F.struct(
                    F.lit(0.5).alias("quantile"),
                    ((eid % 6) * 0.5).alias("value"),
                ),
            ),
        ).otherwise(
            F.lit(None).cast(
                "array<struct<quantile double, value double>>"
            )
        ).alias("quantiles"),
    )
    return carbon_lines(rec)


_SQL_CARBON_RENDER = """
WITH ev AS (
  SELECT event_id,
         CAST(1704067200 + event_id % 86400 AS VARCHAR) AS sec,
         -- Go 'f' strings for the dyadic values used here
         CAST((event_id % 100) // 4 AS VARCHAR)
           || ['', '.25', '.5', '.75'][(event_id % 100) % 4 + 1] AS q4_100,
         CAST((event_id % 40) // 2 AS VARCHAR)
           || ['', '.5'][(event_id % 40) % 2 + 1] AS h_sum,
         CAST((event_id % 20) // 2 AS VARCHAR)
           || ['', '.5'][(event_id % 20) % 2 + 1] AS s_sum,
         CAST((event_id % 8) // 4 AS VARCHAR)
           || ['', '.25', '.5', '.75'][(event_id % 8) % 4 + 1] AS qv1,
         CAST((event_id % 6) // 2 AS VARCHAR)
           || ['', '.5'][(event_id % 6) % 2 + 1] AS qv2
  FROM events
)
SELECT 'cpu' || (event_id % 4) || ';host=h' || (event_id % 5) || ' '
       || CASE WHEN event_id % 2 = 0 THEN CAST(event_id % 100 AS VARCHAR)
               ELSE q4_100 END
       || ' ' || sec AS line
FROM ev WHERE event_id % 3 = 0
UNION ALL
SELECT 'lat.count;svc=s' || (event_id % 4) || ' ' || (event_id % 50)
       || ' ' || sec FROM ev WHERE event_id % 3 = 1
UNION ALL
SELECT 'lat;svc=s' || (event_id % 4) || ' ' || h_sum || ' ' || sec
FROM ev WHERE event_id % 3 = 1
UNION ALL
SELECT 'lat.bucket;svc=s' || (event_id % 4) || ';upper_bound=0.5 '
       || (event_id % 5) || ' ' || sec FROM ev WHERE event_id % 3 = 1
UNION ALL
SELECT 'lat.bucket;svc=s' || (event_id % 4) || ';upper_bound=2 '
       || (event_id % 7) || ' ' || sec FROM ev WHERE event_id % 3 = 1
UNION ALL
SELECT 'lat.bucket;svc=s' || (event_id % 4) || ';upper_bound=10 '
       || (event_id % 3) || ' ' || sec FROM ev WHERE event_id % 3 = 1
UNION ALL
SELECT 'lat.bucket;svc=s' || (event_id % 4) || ';upper_bound=inf '
       || (event_id % 2) || ' ' || sec FROM ev WHERE event_id % 3 = 1
UNION ALL
SELECT 'rt.count ' || (event_id % 30) || ' ' || sec
FROM ev WHERE event_id % 3 = 2
UNION ALL
SELECT 'rt ' || s_sum || ' ' || sec FROM ev WHERE event_id % 3 = 2
UNION ALL
SELECT 'rt.quantile;quantile=25 ' || qv1 || ' ' || sec
FROM ev WHERE event_id % 3 = 2
UNION ALL
SELECT 'rt.quantile;quantile=50 ' || qv2 || ' ' || sec
FROM ev WHERE event_id % 3 = 2
"""


def _q_azuremonitor_envelopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """azuremonitorexporter (`log_to_envelope.go:21-99`,
    `contracts_utils.go:13-70`): flat records from the events table →
    Application Insights Message envelopes — severity buckets, the
    ts→observed→now chain (every 13th record has no timestamp), cloud
    role composition, always-present operation tags. Oracle recomputes
    every envelope field closed-form."""
    from .operators.azuremonitor_exporter import azuremonitor_envelopes

    ensure_shipped(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    eid = F.col("event_id")
    hex1 = F.lower(F.conv((eid + 1).cast("string"), 10, 16))
    ts_ns = F.when(eid % 13 == 0, F.lit(0)).otherwise(
        F.lit(1704067200_000000000) + (eid % 86400) * 1_000_000_000
    ).cast("long")
    res = F.map_concat(
        F.create_map(
            F.lit("service.name"),
            F.concat(F.lit("svc"), (eid % 3).cast("string")),
            F.lit("team"),
            F.concat(F.lit("t"), (eid % 6).cast("string")),
        ),
        F.when(
            eid % 2 == 0,
            F.create_map(
                F.lit("service.namespace"),
                F.concat(F.lit("n"), (eid % 4).cast("string")),
            ),
        ).otherwise(F.create_map().cast("map<string,string>")),
        F.when(
            eid % 5 == 0,
            F.create_map(
                F.lit("service.instance.id"),
                F.concat(F.lit("i"), (eid % 7).cast("string")),
            ),
        ).otherwise(F.create_map().cast("map<string,string>")),
    )
    rec = ev.select(
        ts_ns.alias("time_unix_nano"),
        F.lit(88).cast("long").alias("observed_time_unix_nano"),
        (eid % 26).cast("int").alias("severity_number"),
        F.concat(F.lit("evt "), eid.cast("string"), F.lit(" "),
                 F.col("event_type")).alias("body"),
        F.when(eid % 3 == 0, F.lpad(hex1, 32, "0")).otherwise(F.lit(""))
        .alias("trace_id"),
        F.lit("").alias("span_id"),
        res.alias("resource"),
        F.create_map(F.lit("k"), (eid % 7).cast("string")).alias(
            "attributes"
        ),
        F.lit("lib").alias("scope_name"),
        F.lit("1.0").alias("scope_version"),
    )
    env = azuremonitor_envelopes(rec, sdk_version="otelcol-spark")
    return env.select(
        "time",
        "name",
        "base_type",
        "severity_level",
        "message",
        F.col("tags")["ai.operation.id"].alias("op_id"),
        F.col("tags")["ai.cloud.role"].alias("role"),
        F.col("tags")["ai.cloud.roleInstance"].alias("role_instance"),
        F.col("tags")["ai.internal.sdkVersion"].alias("sdk"),
        F.col("properties")["team"].alias("team"),
        F.col("properties")["instrumentationlibrary.name"].alias(
            "scope_prop"
        ),
        F.col("properties")["k"].alias("attr_k"),
    )


_SQL_AZUREMONITOR = """
SELECT CASE WHEN event_id % 13 = 0 THEN '1970-01-01T00:00:00.000000088Z'
            ELSE strftime(make_timestamp(
                   (1704067200 + event_id % 86400) * 1000000),
                 '%Y-%m-%dT%H:%M:%S') || 'Z' END AS time,
       'Microsoft.ApplicationInsights.Message' AS name,
       'MessageData' AS base_type,
       CAST(CASE WHEN event_id % 26 BETWEEN 1 AND 8 THEN 0
                 WHEN event_id % 26 BETWEEN 9 AND 12 THEN 1
                 WHEN event_id % 26 BETWEEN 13 AND 16 THEN 2
                 WHEN event_id % 26 BETWEEN 17 AND 20 THEN 3
                 WHEN event_id % 26 BETWEEN 21 AND 24 THEN 4
                 ELSE 1 END AS INT) AS severity_level,
       'evt ' || event_id || ' ' || event_type AS message,
       CASE WHEN event_id % 3 = 0
            THEN lpad(lower(to_hex(event_id + 1)), 32, '0')
            ELSE '' END AS op_id,
       CASE WHEN event_id % 2 = 0
            THEN 'n' || (event_id % 4) || '.svc' || (event_id % 3)
            ELSE 'svc' || (event_id % 3) END AS role,
       CASE WHEN event_id % 5 = 0 THEN 'i' || (event_id % 7)
            ELSE NULL END AS role_instance,
       'otelcol-spark' AS sdk,
       't' || (event_id % 6) AS team,
       'lib' AS scope_prop,
       CAST(event_id % 7 AS VARCHAR) AS attr_k
FROM events
"""


def _q_skywalking_logs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """skywalkingexporter (`logrecord_to_logdata.go:28-150`): flat
    records from the events table → SkyWalking LogData — ordered tag
    list (resource → scope → severity → attrs → flags → spanID),
    service default, every 11th record's empty body short-circuiting
    the record half, hex flags. Oracle rebuilds every field including
    the ordered tags JSON closed-form."""
    from .operators.skywalking_exporter import skywalking_log_rows

    ensure_shipped(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    eid = F.col("event_id")
    hex1 = F.lower(F.conv((eid + 1).cast("string"), 10, 16))
    res = F.map_concat(
        F.create_map(
            F.lit("service.name"),
            F.concat(F.lit("svc"), (eid % 3).cast("string")),
            F.lit("team"),
            F.concat(F.lit("t"), (eid % 6).cast("string")),
        ),
        F.when(
            eid % 5 == 0,
            F.create_map(
                F.lit("service.instance.id"),
                F.concat(F.lit("i"), (eid % 7).cast("string")),
            ),
        ).otherwise(F.create_map().cast("map<string,string>")),
    )
    rec = ev.select(
        (
            F.lit(1704067200_000000000) + (eid % 86400) * 1_000_000_000
        ).cast("long").alias("time_unix_nano"),
        F.when(eid % 11 == 0, F.lit(None).cast("string")).otherwise(
            F.concat(F.lit("evt "), eid.cast("string"))
        ).alias("body"),
        (eid % 25).cast("int").alias("severity_number"),
        F.when(eid % 5 == 0, F.lit("")).otherwise(
            F.concat(F.lit("S"), (eid % 5).cast("string"))
        ).alias("severity_text"),
        (eid % 300).cast("int").alias("flags"),
        F.when(eid % 3 == 0, F.lpad(hex1, 32, "0")).otherwise(F.lit(""))
        .alias("trace_id"),
        F.when(eid % 4 == 0, F.lpad(hex1, 16, "0")).otherwise(F.lit(""))
        .alias("span_id"),
        res.alias("resource"),
        F.create_map(F.lit("k"), (eid % 7).cast("string")).alias(
            "attributes"
        ),
        F.lit("lib").alias("scope_name"),
        F.lit("1.0").alias("scope_version"),
    )
    return skywalking_log_rows(rec)


_SQL_SKYWALKING = """
WITH base AS (
  SELECT event_id,
         '{"key":"service.name","value":"svc' || (event_id % 3) || '"},'
         || '{"key":"team","value":"t' || (event_id % 6) || '"}'
         || CASE WHEN event_id % 5 = 0
                 THEN ',{"key":"service.instance.id","value":"i'
                      || (event_id % 7) || '"}' ELSE '' END
         || ',{"key":"otlp.name","value":"lib"}'
         || ',{"key":"otlp.version","value":"1.0"}' AS head
  FROM events
)
SELECT 'svc' || (event_id % 3) AS service,
       CASE WHEN event_id % 5 = 0 THEN 'i' || (event_id % 7)
            ELSE '' END AS service_instance,
       CAST(CASE WHEN event_id % 11 = 0 THEN 0
            ELSE (1704067200 + event_id % 86400) * 1000 END AS BIGINT)
         AS timestamp_ms,
       CASE WHEN event_id % 11 = 0 THEN NULL
            ELSE 'evt ' || event_id END AS body,
       CASE WHEN event_id % 11 = 0 THEN NULL ELSE 'body-type' END
         AS body_type,
       CASE WHEN event_id % 11 = 0 OR event_id % 3 <> 0 THEN NULL
            ELSE lpad(lower(to_hex(event_id + 1)), 32, '0') END
         AS trace_id,
       '[' || head
       || CASE WHEN event_id % 11 = 0 THEN ''
               ELSE ',{"key":"severityNumber","value":"'
                    || (event_id % 25) || '"}'
                    || CASE WHEN event_id % 5 <> 0
                            THEN ',{"key":"severityText","value":"S'
                                 || (event_id % 5) || '"}' ELSE '' END
                    || ',{"key":"k","value":"' || (event_id % 7) || '"}'
                    || ',{"key":"flags","value":"'
                    || lower(to_hex(event_id % 300)) || '"}'
                    || CASE WHEN event_id % 4 = 0
                            THEN ',{"key":"spanID","value":"'
                                 || lpad(lower(to_hex(event_id + 1)), 16,
                                         '0') || '"}'
                            ELSE '' END
               END
       || ']' AS tags_json
FROM base
"""


def _q_cassandra_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cassandraexporter (`exporter_logs.go:113-146`, `helper.go:8-17`):
    flat records from the events table → the 9 CQL bind columns with
    the per-value json.Marshal quirk (string attribute values and the
    body bind QUOTED). Oracle recomputes every column closed-form."""
    from .operators.cassandra_exporter import cassandra_log_rows

    ensure_shipped(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    eid = F.col("event_id")
    hex1 = F.lower(F.conv((eid + 1).cast("string"), 10, 16))
    rec = ev.select(
        (
            F.lit(1704067200_000000000) + (eid % 86400) * 1_000_000_000
        ).cast("long").alias("time_unix_nano"),
        F.concat(F.lit("evt "), eid.cast("string"), F.lit(" "),
                 F.col("event_type")).alias("body"),
        (eid % 25).cast("int").alias("severity_number"),
        F.concat(F.lit("S"), (eid % 5).cast("string")).alias(
            "severity_text"
        ),
        (eid % 2).cast("int").alias("flags"),
        F.when(eid % 3 == 0, F.lpad(hex1, 32, "0")).otherwise(F.lit(""))
        .alias("trace_id"),
        F.when(eid % 4 == 0, F.lpad(hex1, 16, "0")).otherwise(F.lit(""))
        .alias("span_id"),
        F.create_map(
            F.lit("team"), F.concat(F.lit("t"), (eid % 6).cast("string"))
        ).alias("resource"),
        F.create_map(F.lit("k"), (eid % 7).cast("string")).alias(
            "attributes"
        ),
    )
    rows = cassandra_log_rows(rec)
    return rows.select(
        "timestamp",
        "traceid",
        "spanid",
        "traceflags",
        "severitytext",
        "severitynumber",
        "body",
        F.col("resourceattributes")["team"].alias("res_team"),
        F.col("logattributes")["k"].alias("attr_k"),
    )


_SQL_CASSANDRA = """
SELECT CAST(1704067200000000000 + (event_id % 86400) * 1000000000
            AS BIGINT) AS timestamp,
       CASE WHEN event_id % 3 = 0
            THEN lpad(lower(to_hex(event_id + 1)), 32, '0')
            ELSE '' END AS traceid,
       CASE WHEN event_id % 4 = 0
            THEN lpad(lower(to_hex(event_id + 1)), 16, '0')
            ELSE '' END AS spanid,
       CAST(event_id % 2 AS INT) AS traceflags,
       'S' || (event_id % 5) AS severitytext,
       CAST(event_id % 25 AS INT) AS severitynumber,
       '"evt ' || event_id || ' ' || event_type || '"' AS body,
       '"t' || (event_id % 6) || '"' AS res_team,
       '"' || (event_id % 7) || '"' AS attr_k
FROM events
"""


def _q_honeycomb_markers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """honeycombmarkerexporter (`logs_exporter.go:79-140`): two
    configured markers with OTTL log conditions evaluated through the
    repo's OTTL→Catalyst compiler — severity threshold and IsMatch
    body rules — producing sorted-key marker request JSON with
    optional message/url attribute lifts and the __all__ slug default.
    Oracle recomputes matches and request bodies closed-form."""
    from .operators.honeycomb_marker_exporter import (
        Marker,
        honeycomb_markers,
    )

    ensure_shipped(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    eid = F.col("event_id")
    attrs = F.map_concat(
        F.when(
            eid % 2 == 0,
            F.create_map(
                F.lit("message"),
                F.concat(F.lit("m"), (eid % 5).cast("string")),
            ),
        ).otherwise(F.create_map().cast("map<string,string>")),
        F.when(
            eid % 3 == 0,
            F.create_map(
                F.lit("url"),
                F.concat(F.lit("http://u/"), (eid % 7).cast("string")),
            ),
        ).otherwise(F.create_map().cast("map<string,string>")),
    )
    rec = ev.select(
        F.concat(F.lit("evt "), eid.cast("string"), F.lit(" "),
                 F.col("event_type")).alias("body"),
        (eid % 25).cast("int").alias("severity_number"),
        attrs.alias("attributes"),
    )
    return honeycomb_markers(
        rec,
        [
            Marker(type="errors", rules=["severity_number >= 17"]),
            Marker(
                type="clicks",
                rules=['IsMatch(body, ".*click.*")'],
                dataset_slug="web",
            ),
        ],
    )


_SQL_HONEYCOMB = """
WITH rec AS (
  SELECT event_id,
         'evt ' || event_id || ' ' || event_type AS body,
         event_id % 25 AS sev,
         CASE WHEN event_id % 2 = 0
              THEN '"message":"m' || (event_id % 5) || '",' ELSE '' END
           AS msg_part,
         CASE WHEN event_id % 3 = 0
              THEN ',"url":"http://u/' || (event_id % 7) || '"'
              ELSE '' END AS url_part,
         event_type
  FROM events
)
SELECT 'errors' AS marker_type, '__all__' AS dataset_slug,
       '/1/markers/__all__' AS url_path,
       '{' || msg_part || '"type":"errors"' || url_part || '}'
         AS request_json
FROM rec WHERE sev >= 17
UNION ALL
SELECT 'clicks', 'web', '/1/markers/web',
       '{' || msg_part || '"type":"clicks"' || url_part || '}'
FROM rec WHERE body LIKE '%click%'
"""


def _q_lm_log_inputs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logicmonitorexporter (`logs_exporter.go:64-140`): flat records
    from the events table → LM log inputs — the ts→observed→now
    chain (every 13th record has no timestamp), Go time.String()
    rendering, and the hostname → system.hostname resource
    duplication. Oracle recomputes every field closed-form."""
    from .operators.logicmonitor_exporter import lm_log_inputs

    ensure_shipped(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    eid = F.col("event_id")
    ts_ns = F.when(eid % 13 == 0, F.lit(0)).otherwise(
        F.lit(1704067200_000000000) + (eid % 86400) * 1_000_000_000
    ).cast("long")
    rec = ev.select(
        ts_ns.alias("time_unix_nano"),
        F.lit(88).cast("long").alias("observed_time_unix_nano"),
        F.concat(F.lit("evt "), eid.cast("string")).alias("body"),
        F.create_map(
            F.lit("hostname"), F.concat(F.lit("h"), (eid % 5).cast("string")),
            F.lit("team"), F.concat(F.lit("t"), (eid % 6).cast("string")),
        ).alias("resource"),
        F.create_map(F.lit("k"), (eid % 7).cast("string")).alias(
            "attributes"
        ),
    )
    out = lm_log_inputs(rec)
    return out.select(
        "message",
        "timestamp",
        F.col("resource_map")["hostname"].alias("hostname"),
        F.col("resource_map")["system.hostname"].alias("system_hostname"),
        F.col("resource_map")["team"].alias("team"),
        F.col("metadata")["k"].alias("attr_k"),
    )


_SQL_LM = """
SELECT 'evt ' || event_id AS message,
       CASE WHEN event_id % 13 = 0
            THEN '1970-01-01 00:00:00.000000088 +0000 UTC'
            ELSE strftime(make_timestamp(
                   (1704067200 + event_id % 86400) * 1000000),
                 '%Y-%m-%d %H:%M:%S') || ' +0000 UTC' END AS timestamp,
       'h' || (event_id % 5) AS hostname,
       'h' || (event_id % 5) AS system_hostname,
       't' || (event_id % 6) AS team,
       CAST(event_id % 7 AS VARCHAR) AS attr_k
FROM events
"""


def _q_adx_log_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """azuredataexplorerexporter (`logsdata_to_adx.go:16-46`): flat
    records from the events table → AdxLog rows — RFC 3339 Nano
    timestamps (zero → epoch), scope overlay onto the record
    attributes (scope.name overwrites a colliding record attribute).
    Oracle recomputes every column closed-form."""
    from .operators.adx_exporter import adx_log_rows

    ensure_shipped(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    eid = F.col("event_id")
    hex1 = F.lower(F.conv((eid + 1).cast("string"), 10, 16))
    ts_ns = F.when(eid % 13 == 0, F.lit(0)).otherwise(
        F.lit(1704067200_000000000) + (eid % 86400) * 1_000_000_000
    ).cast("long")
    rec = ev.select(
        ts_ns.alias("time_unix_nano"),
        F.lit(1704067200_000000000).cast("long").alias(
            "observed_time_unix_nano"
        ),
        F.when(eid % 3 == 0, F.lpad(hex1, 32, "0")).otherwise(F.lit(""))
        .alias("trace_id"),
        F.lit("").alias("span_id"),
        F.concat(F.lit("S"), (eid % 5).cast("string")).alias(
            "severity_text"
        ),
        (eid % 25).cast("int").alias("severity_number"),
        F.concat(F.lit("evt "), eid.cast("string")).alias("body"),
        F.create_map(
            F.lit("team"), F.concat(F.lit("t"), (eid % 6).cast("string"))
        ).alias("resource"),
        F.create_map(
            F.lit("k"), (eid % 7).cast("string"),
            F.lit("scope.name"), F.lit("shadowed"),
        ).alias("attributes"),
        F.lit("lib").alias("scope_name"),
        F.lit("1.0").alias("scope_version"),
    )
    rows = adx_log_rows(rec)
    return rows.select(
        "Timestamp",
        "ObservedTimestamp",
        "TraceID",
        "SpanID",
        "SeverityText",
        "SeverityNumber",
        "Body",
        F.col("ResourceAttributes")["team"].alias("res_team"),
        F.col("LogsAttributes")["k"].alias("attr_k"),
        F.col("LogsAttributes")["scope.name"].alias("scope_name_attr"),
        F.col("LogsAttributes")["scope.version"].alias(
            "scope_version_attr"
        ),
    )


_SQL_ADX = """
SELECT CASE WHEN event_id % 13 = 0 THEN '1970-01-01T00:00:00Z'
            ELSE strftime(make_timestamp(
                   (1704067200 + event_id % 86400) * 1000000),
                 '%Y-%m-%dT%H:%M:%S') || 'Z' END AS "Timestamp",
       '2024-01-01T00:00:00Z' AS "ObservedTimestamp",
       CASE WHEN event_id % 3 = 0
            THEN lpad(lower(to_hex(event_id + 1)), 32, '0')
            ELSE '' END AS "TraceID",
       '' AS "SpanID",
       'S' || (event_id % 5) AS "SeverityText",
       CAST(event_id % 25 AS INT) AS "SeverityNumber",
       'evt ' || event_id AS "Body",
       't' || (event_id % 6) AS res_team,
       CAST(event_id % 7 AS VARCHAR) AS attr_k,
       'lib' AS scope_name_attr,
       '1.0' AS scope_version_attr
FROM events
"""


def _q_cloudwatch_logs_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """awscloudwatchreceiver (`logs.go:230-288`): FilterLogEvents rows
    synthesized from the events table — nil-timestamp and nil-message
    events skipped, absent streams taking the reference's sentinel,
    ms→ns conversion, (group, stream) resource attrs. Oracle
    recomputes every record closed-form."""
    from .sources.cloudwatch_receiver import cloudwatch_log_records

    ensure_shipped(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    eid = F.col("event_id")
    src = ev.select(
        F.when(eid % 17 == 0, F.lit(None).cast("long")).otherwise(
            F.lit(1704067200000) + (eid % 86400) * 1000
        ).alias("timestamp_ms"),
        F.concat(F.lit("e"), eid.cast("string")).alias("event_id"),
        F.when(eid % 19 == 0, F.lit(None).cast("string")).otherwise(
            F.concat(F.lit("msg "), eid.cast("string"))
        ).alias("message"),
        F.when(eid % 5 == 0, F.lit(None).cast("string")).otherwise(
            F.concat(F.lit("s"), (eid % 4).cast("string"))
        ).alias("log_stream"),
        F.concat(F.lit("/g/"), (eid % 3).cast("string")).alias(
            "log_group"
        ),
    )
    recs = cloudwatch_log_records(src, region="eu-west-1", observed_ns=9)
    return recs.select(
        "time_unix_nano",
        "observed_time_unix_nano",
        "body",
        F.col("attributes")["id"].alias("event_id"),
        F.col("resource")["aws.region"].alias("region"),
        F.col("resource")["cloudwatch.log.group.name"].alias("group"),
        F.col("resource")["cloudwatch.log.stream"].alias("stream"),
    )


_SQL_CLOUDWATCH = """
SELECT CAST((1704067200000 + (event_id % 86400) * 1000) * 1000000
            AS BIGINT) AS time_unix_nano,
       CAST(9 AS BIGINT) AS observed_time_unix_nano,
       'msg ' || event_id AS body,
       'e' || event_id AS event_id,
       'eu-west-1' AS region,
       '/g/' || (event_id % 3) AS "group",
       CASE WHEN event_id % 5 = 0 THEN 'THIS IS INVALID STREAM'
            ELSE 's' || (event_id % 4) END AS stream
FROM events
WHERE event_id % 17 <> 0 AND event_id % 19 <> 0
"""


REGISTRY: list[Query] = [
    # --- Registry order = driver-sweep order: the driver checks the first 50
    # entries, tools/check_oracles.py checks all 87. Three blocks, each in
    # the order its queries were added:
    #   1. 6 processor and sketch queries (tail sampling to expo histogram);
    #   2. 48 receiver decodes and exporter marshals (below the marker);
    #   3. 33 pipeline, relational, parser and streaming queries (from
    #      `tokenize`), driver-green in CORRECTNESS_r01..r04.
    # Append new queries at the end of block 2; never reorder, so a query's
    # correctness rows stay comparable from one driver sweep to the next.
    Query("tail_sample", _q_tail_sample, _SQL_TAIL_SAMPLE),
    Query("pii_scrub", _q_pii_scrub, _SQL_PII_SCRUB),
    Query("range_join", _q_range_join, _SQL_RANGE_JOIN),
    Query("cms_counts", _q_cms_counts, _SQL_CMS),
    Query("hll_counts", _q_hll_counts, _SQL_HLL),
    Query("expo_histogram", _q_expo_histogram, _SQL_EXPO_HIST),
    # --- block 2: receivers and exporters (entries past position 50 rely on
    # the tools/check_oracles.py sweep for correctness evidence) ---
    Query("kafka_raw_marshal", _q_kafka_raw_marshal, _SQL_KAFKA_RAW),
    Query("file_proto_roundtrip", _q_file_proto_roundtrip, _SQL_FILE_PROTO),
    Query(
        "kafka_otlp_json_roundtrip",
        _q_kafka_otlp_json_roundtrip,
        _SQL_KAFKA_OTLP_JSON,
    ),
    Query("k8s_dynamic_enrich", _q_k8s_dynamic_enrich, _SQL_K8S_DYNAMIC),
    Query("es_bulk_marshal", _q_es_bulk_marshal, _SQL_ES_BULK),
    Query("es_ecs_dynamic", _q_es_ecs_dynamic, _SQL_ES_ECS),
    Query("s3_body_sink", _q_s3_body_sink, _SQL_S3_BODY),
    Query("s3_sumo_marshal", _q_s3_sumo_marshal, _SQL_S3_SUMO),
    Query("loki_json_entries", _q_loki_json_entries, _SQL_LOKI_JSON),
    Query("splunk_hec_marshal", _q_splunk_hec_marshal, _SQL_SPLUNK_HEC),
    Query("syslog_render", _q_syslog_render, _SQL_SYSLOG_RENDER),
    Query("prom_text_counts", _q_prom_text_counts, _SQL_PROM_TEXT),
    Query(
        "kafka_receive_roundtrip",
        _q_kafka_receive_roundtrip,
        _SQL_KAFKA_RECEIVE,
    ),
    Query(
        "fluent_receive_roundtrip",
        _q_fluent_receive_roundtrip,
        _SQL_FLUENT_RECEIVE,
    ),
    Query("metrics_transform", _q_metrics_transform, _SQL_METRICS_TRANSFORM),
    Query("metrics_generate", _q_metrics_generate, _SQL_METRICS_GENERATE),
    Query("sumologic_process", _q_sumologic_process, _SQL_SUMOLOGIC),
    Query(
        "loki_receive_roundtrip",
        _q_loki_receive_roundtrip,
        _SQL_LOKI_RECEIVE,
    ),
    Query(
        "splunk_hec_receive_roundtrip",
        _q_splunk_hec_receive_roundtrip,
        _SQL_SPLUNK_HEC_RECEIVE,
    ),
    Query("statsd_aggregate", _q_statsd_aggregate, _SQL_STATSD),
    Query("carbon_parse", _q_carbon_parse, _SQL_CARBON),
    Query("wavefront_parse", _q_wavefront_parse, _SQL_WAVEFRONT),
    Query("collectd_parse", _q_collectd_parse, _SQL_COLLECTD),
    Query(
        "syslog_octet_roundtrip",
        _q_syslog_octet_roundtrip,
        _SQL_SYSLOG_OCTET,
    ),
    Query("azure_logs_parse", _q_azure_logs_parse, _SQL_AZURE_LOGS),
    Query("cloudflare_parse", _q_cloudflare_parse, _SQL_CLOUDFLARE),
    Query("gcp_log_parse", _q_gcp_log_parse, _SQL_GCP_LOGS),
    Query("firehose_cwmetrics", _q_firehose_cwmetrics, _SQL_FIREHOSE),
    Query("cwlogs_marshal", _q_cwlogs_marshal, _SQL_CWLOGS),
    Query("clickhouse_rows", _q_clickhouse_rows, _SQL_CLICKHOUSE),
    Query("mezmo_lines", _q_mezmo_lines, _SQL_MEZMO),
    Query("opensearch_sso", _q_opensearch_sso, _SQL_OPENSEARCH),
    Query("kinesis_chunks", _q_kinesis_chunks, _SQL_KINESIS),
    Query("sls_log_rows", _q_sls_log_rows, _SQL_SLS),
    Query("pubsub_watermarks", _q_pubsub_watermarks, _SQL_PUBSUB),
    Query("sqlquery_logs", _q_sqlquery_logs, _SQL_SQLQUERY),
    Query("mongodb_logs_parse", _q_mongodb_logs_parse, _SQL_MONGODB),
    Query("k8s_events_parse", _q_k8s_events_parse, _SQL_K8S_EVENTS),
    Query("dataset_events", _q_dataset_events, _SQL_DATASET),
    Query("logzio_lines", _q_logzio_lines, _SQL_LOGZIO),
    Query("carbon_render", _q_carbon_render, _SQL_CARBON_RENDER),
    Query(
        "azuremonitor_envelopes",
        _q_azuremonitor_envelopes,
        _SQL_AZUREMONITOR,
    ),
    Query("skywalking_logs", _q_skywalking_logs, _SQL_SKYWALKING),
    Query("cassandra_rows", _q_cassandra_rows, _SQL_CASSANDRA),
    Query("honeycomb_markers", _q_honeycomb_markers, _SQL_HONEYCOMB),
    Query("lm_log_inputs", _q_lm_log_inputs, _SQL_LM),
    Query("adx_log_rows", _q_adx_log_rows, _SQL_ADX),
    Query(
        "cloudwatch_logs_parse", _q_cloudwatch_logs_parse, _SQL_CLOUDWATCH
    ),
    # --- block 3: driver-green through r04 ---
    Query("tokenize", _q_tokenize, _SQL_TOKENIZE),
    Query("parse_severity", _q_parse, _SQL_PARSE),
    Query("enrich_lookup", _q_enrich, _SQL_ENRICH),
    Query("route_match_once", _q_route_match_once, _SQL_ROUTE_ONCE),
    Query("route_multicast", _q_route_multicast, _SQL_ROUTE_MULTI),
    Query("agg_counts", _q_agg_counts, _SQL_AGG),
    Query("sampler", _q_sampler, _SQL_SAMPLER),
    Query("json_parse", _q_json_parse, _SQL_JSON),
    Query("severity_events", _q_severity_events, _SQL_SEV_EVENTS),
    Query("window_rank", _q_window_rank, _SQL_WINDOW_RANK),
    Query("running_sum", _q_running_sum, _SQL_RUNNING),
    Query("redact", _q_redact, _SQL_REDACT),
    Query("recombine", _q_recombine, _SQL_RECOMBINE),
    Query("recombine_last", _q_recombine_last, _SQL_RECOMBINE_LAST),
    Query("recombine_skew", _q_recombine_skew, _SQL_RECOMBINE_LAST),
    Query("ottl_types", _q_ottl_types, _SQL_OTTL_TYPES),
    Query("syslog_parse", _q_syslog_parse, _SQL_SYSLOG),
    Query("journald_parse", _q_journald_parse, _SQL_JOURNALD),
    Query("wineventlog_parse", _q_wineventlog_parse, _SQL_WINEVENTLOG),
    Query("kv_csv_uri_parse", _q_kv_csv_uri_parse, _SQL_KV_CSV_URI),
    Query("xml_parse", _q_xml_parse, _SQL_XML),
    Query("ottl_transform", _q_ottl_transform, _SQL_OTTL_TRANSFORM),
    Query("lag_delta", _q_lag_delta, _SQL_LAG_DELTA),
    Query("interval_last", _q_interval_last, _SQL_INTERVAL_LAST),
    Query("histogram", _q_histogram, _SQL_HISTOGRAM),
    Query("stream_pipeline", _q_stream_pipeline, _SQL_ROUTE_ONCE),
    Query("stream_window_agg", _q_stream_window_agg, _SQL_STREAM_WINDOW),
    Query("sessionize", _q_sessionize, _SQL_SESSIONIZE),
    Query("agg_rollup", _q_agg_rollup, _SQL_ROLLUP),
    Query("percentiles", _q_percentiles, _SQL_PERCENTILES),
    Query("asof_join", _q_asof_join, _SQL_ASOF),
    Query("pretokenize", _q_pretokenize, _SQL_PRETOKENIZE),
    Query("set_ops", _q_set_ops, _SQL_SET_OPS),
]
