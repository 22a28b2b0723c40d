"""Canonical schemas for the rebuilt log pipeline.

The reference's row model is a dynamic tree (plog.Logs → ResourceLogs →
ScopeLogs → LogRecord with `any`-typed body/attributes —
`pkg/stanza/entry/entry.go:14-26`, `pkg/ottl/contexts/ottllog/log.go:153-222`).
Per SURVEY §1.2 we flatten it to a fixed columnar StructType: everything the
pipeline touches repeatedly is a real column; truly dynamic residue lives in a
`map<string,string>` attributes column.
"""

from __future__ import annotations

from pyspark.sql import types as T


# The north-rule input table: pre-tokenized training sequences.
TOKENS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("n_tok", T.IntegerType(), False),
        T.StructField("source", T.StringType(), False),
    ]
)

# The repo-wide flat log-record row shape — one OTLP LogRecord with its
# resource/scope context denormalized on. Every wire-format receiver
# (loki, splunk HEC, cloudflare, azure, webhook, kafka otlp modes, the
# fileexporter readers) yields EXACTLY this schema so their outputs
# union and feed the same downstream operators.
FLAT_LOG_SCHEMA = T.StructType(
    [
        T.StructField("time_unix_nano", T.LongType()),
        T.StructField("severity_number", T.IntegerType()),
        T.StructField("severity_text", T.StringType()),
        T.StructField("body", T.StringType()),
        T.StructField("attributes", T.MapType(T.StringType(), T.StringType())),
        T.StructField("resource", T.MapType(T.StringType(), T.StringType())),
        T.StructField("scope_name", T.StringType()),
        T.StructField("trace_id", T.StringType()),
        T.StructField("span_id", T.StringType()),
    ]
)

# The record shape of the API-polling receivers (k8s events/objects,
# MongoDB Atlas): the flat record with its observed time, without scope
# or trace context.
OBSERVED_LOG_SCHEMA = T.StructType(
    [
        T.StructField("time_unix_nano", T.LongType()),
        T.StructField("observed_time_unix_nano", T.LongType()),
        T.StructField("severity_number", T.IntegerType()),
        T.StructField("severity_text", T.StringType()),
        T.StructField("body", T.StringType()),
        T.StructField("attributes", T.MapType(T.StringType(), T.StringType())),
        T.StructField("resource", T.MapType(T.StringType(), T.StringType())),
    ]
)

# One metric datapoint of the line-protocol receivers (carbon, wavefront,
# collectd): an int or a double value (``is_int`` says which).
DATAPOINT_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("is_int", T.BooleanType()),
        T.StructField("int_value", T.LongType()),
        T.StructField("double_value", T.DoubleType()),
        T.StructField("ts_ns", T.LongType()),
        T.StructField("attrs", T.MapType(T.StringType(), T.StringType())),
    ]
)

# Enrich dimension (k8sattributes / resource processor analog, FIXTURES.md
# §2), a literal map in the pipeline's plan (plans/pipeline.enrich_stage).
# `src-cold-9` is deliberately absent → the lookup-miss null path.
SOURCE_LOOKUP_ROWS = [
    # (source, team, region, tier, sample_pct)
    ("src-hot", "core", "us", "prod", 100.0),
    ("src-warm", "core", "eu", "prod", 100.0),
    ("src-cold-0", "search", "us", "prod", 100.0),
    ("src-cold-1", "search", "eu", "staging", 50.0),
    ("src-cold-2", "ads", "us", "prod", 100.0),
    ("src-cold-3", "ads", "eu", "dev", 25.0),
    ("src-cold-4", "infra", "ap", "prod", 100.0),
    ("src-cold-5", "infra", "eu", "staging", 50.0),
    ("src-cold-6", "ml", "us", "prod", 100.0),
    ("src-cold-7", "ml", "ap", "dev", 25.0),
    ("src-cold-8", "data", "eu", "prod", 100.0),
    # src-cold-9 intentionally missing (GetPod-miss analog)
]

SOURCE_LOOKUP_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("team", T.StringType(), True),
        T.StructField("region", T.StringType(), True),
        T.StructField("tier", T.StringType(), True),
        T.StructField("sample_pct", T.DoubleType(), True),
    ]
)

# The commit row of one chunk of the checkpointed job (plans/checkpoint.py):
# its checkpoint and its lineage in one row, so one append commits both.
# ``routed_schema`` is the routed rows' schema as JSON, which readers apply
# to the committed data instead of inferring it.
CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("chunk_id", T.StringType(), False),
        T.StructField("rows_in", T.LongType(), False),
        T.StructField("rows", T.LongType(), False),
        T.StructField("tokens", T.LongType(), False),
        T.StructField("wall_ms", T.LongType(), False),
        T.StructField("routed_schema", T.StringType(), False),
    ]
)
