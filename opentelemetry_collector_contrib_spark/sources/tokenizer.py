"""Whitespace tokenizer: documents(text) → the north-rule tokens shape.

Bridges the driver-provided ``documents`` parquet table to the pipeline's
input shape ``(doc_id, tokens array<int32>, n_tok, source)``. The word→id
function (functions/hashing.py) is expressible identically in Spark SQL and
DuckDB SQL, so the driver's oracle can verify per-row token-array equality —
the north-rule invariant.

Pure JVM-side: split + transform(); no Python in the path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import _A, _B, _C, VOCAB


def tokenize_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = F.filter(F.split(F.col("text"), r"\s+"), lambda w: F.length(w) > 0)
    tokens = F.transform(
        words,
        lambda w: (
            (F.ascii(w) * _A + F.ascii(F.reverse(w)) * _B + F.length(w) * _C) % VOCAB
        ).cast("int"),
    )
    return docs.select(
        F.concat(F.lit("doc-"), F.lpad(F.col("doc_id").cast("string"), 12, "0")).alias("doc_id"),
        tokens.alias("tokens"),
        F.size(tokens).cast("int").alias("n_tok"),
        F.col("source"),
    )


PRETOKEN_RE = r"[a-z0-9]+|[^a-z0-9\s]"


def pre_tokenize(df: DataFrame, text_col: str = "text", out: str = "pieces") -> DataFrame:
    """GPT-style regex pre-tokenizer: word pieces + standalone punctuation
    (BPE front-end shape). regexp_extract_all keeps it JVM-side."""
    return df.withColumn(
        out, F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(PRETOKEN_RE), 0)
    )
