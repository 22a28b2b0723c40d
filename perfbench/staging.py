"""Untimed input staging, cached on disk by (kind, rows, seed).

Every input comes from ``sources.tokengen`` with the run's seed, so the same
seed always stages the same bytes. A finished entry is a directory holding
the parquet files plus ``_manifest.json`` (Spark skips ``_`` files); it is
built under a temporary name and renamed into place, so an interrupted
staging is never mistaken for a cached one.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.sources.render import (
    EPOCH_2024,
    level_col,
    render_lines,
    row_idx_col,
)
from opentelemetry_collector_contrib_spark.sources.tokengen import tokens_df


@dataclass(frozen=True)
class Staged:
    path: str
    rows: int
    seed: int
    files: int
    n_tok_sum: int


def flat_records(tokens: DataFrame) -> DataFrame:
    """Tokens rows → flat log records in the exporters' input shape (the
    same columns the OTLP readers emit): the rendered line is the body."""
    idx = row_idx_col(F.col("doc_id"))
    digest = F.sha2(F.col("doc_id"), 256)
    return render_lines(tokens, out="body").select(
        ((F.lit(EPOCH_2024) + idx % (30 * 86400)) * 1_000_000_000 + idx % 1000)
        .cast("long")
        .alias("time_unix_nano"),
        (idx % 24 + 1).cast("int").alias("severity_number"),
        level_col(F.col("tokens")).alias("severity_text"),
        "body",
        F.create_map(
            F.lit("doc.id"), F.col("doc_id"),
            F.lit("n_tok"), F.col("n_tok").cast("string"),
        ).alias("attributes"),
        F.create_map(
            F.lit("service.name"), F.col("source"),
            F.lit("hostname"), F.concat(F.lit("node-"), (idx % 8).cast("string")),
        ).alias("resource"),
        F.lit("recv/filelog").alias("scope_name"),
        F.substring(digest, 1, 32).alias("trace_id"),
        F.substring(digest, 33, 16).alias("span_id"),
    )


def stage(
    spark: SparkSession, cache_dir: str, kind: str, rows: int, seed: int, files: int
) -> Staged:
    """Stage ``kind`` ("tokens" or "records") once per (rows, seed, files)."""
    final = os.path.join(cache_dir, f"{kind}-r{rows}-s{seed}-f{files}")
    manifest = os.path.join(final, "_manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            return Staged(**json.load(f))
    os.makedirs(cache_dir, exist_ok=True)
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    # one range partition → one file, so chunk planning sees `files` files
    tokens = tokens_df(spark, rows, seed=seed, num_partitions=files)
    df = flat_records(tokens) if kind == "records" else tokens
    df.write.parquet(tmp)
    n_tok_sum = int(
        spark.read.parquet(tmp).agg(F.sum("n_tok")).first()[0]
        if kind == "tokens"
        else 0
    )
    staged = Staged(final, rows, seed, files, n_tok_sum)
    with open(os.path.join(tmp, "_manifest.json"), "w") as f:
        json.dump(staged.__dict__, f)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return staged
