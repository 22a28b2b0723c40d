"""The workloads. Each drives the engine only through its public functions,
and each checks its own output.

A workload stages its input once (untimed), then the run loop calls
``warm`` until ``warmup_s`` have passed (at least once), then ``iterate``
back to back (one closed-loop client) and ``check`` on each result.
``check`` returns a list of failure messages; an empty list means the
output is correct. ``cleanup`` runs after every warm call and iteration,
also when it failed, so outputs never pile up on disk. A workload with a
``final_check`` runs it once per run, after the timed iterations.
"""

from __future__ import annotations

import functools
import importlib.util
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.plans.checkpoint import CheckpointedRunner
from opentelemetry_collector_contrib_spark.plans.pipeline import full_pipeline
from opentelemetry_collector_contrib_spark.sources import tokengen

import staging

# Both workloads read one staged tokens table, one scan task per file. On a
# 4-core host a pipeline_agg iteration over it takes about 2 s, so one run
# of --seconds covers several and reports their median; checkpointed_job
# splits it into two chunks of TOKEN_ROWS / 2 rows (four files, one per
# core), large enough that the routed write is over a third of a chunk next
# to its ~15 Spark jobs, small enough that a run with its set-up, warm-up
# and checks stays near a minute.
TOKEN_ROWS, TOKEN_FILES, JOB_FILES_PER_CHUNK = 100_000, 8, 4
ORACLE_PREFIX_ROWS = 2_000

AGG_KEY = ("route", "source", "severity_text")


def stage_tokens(spark: SparkSession, work: str, seed: int) -> staging.Staged:
    return staging.stage(spark, os.path.join(work, "cache"), "tokens", TOKEN_ROWS, seed, TOKEN_FILES)


def agg_tuple(r) -> tuple:
    """One aggregate row (a Spark Row or a pandas Series) as a comparable tuple."""
    return tuple(r[c] for c in AGG_KEY) + (int(r["row_count"]), int(r["token_count"]))


def agg_rows(df: DataFrame) -> set[tuple]:
    return {agg_tuple(r) for r in df.collect()}


def _oracle_module(repo: str):
    spec = importlib.util.spec_from_file_location(
        "pipeline_oracle_module", os.path.join(repo, "tests", "oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class PipelineAgg:
    """``full_pipeline(...)[1]`` over the stored tokens table: read-only and
    compute-bound (render, grok, time/severity, enrich, route, aggregate)."""

    name = "pipeline_agg"
    # the first iterations keep getting faster for about this long
    warmup_s = 12.0

    def __init__(self, spark: SparkSession, work: str, seed: int, repo: str):
        self.input = stage_tokens(spark, work, seed)
        self.rows = self.input.rows
        self.seed = seed
        self.repo = repo

    def iterate(self, spark: SparkSession) -> set[tuple]:
        return agg_rows(full_pipeline(spark.read.parquet(self.input.path), spark)[1])

    def warm(self, spark: SparkSession) -> None:
        self.iterate(spark)

    def check(self, out: set[tuple]) -> list[str]:
        fails = []
        if sum(r[3] for r in out) != self.rows:
            fails.append("pipeline_agg: sum(row_count) != input rows")
        if sum(r[4] for r in out) != self.input.n_tok_sum:
            fails.append("pipeline_agg: sum(token_count) != sum(n_tok)")
        return fails

    def cleanup(self) -> None:
        pass

    def final_check(self, spark: SparkSession) -> list[str]:
        """The aggregates of a small prefix equal the row-by-row oracle."""
        oracle = _oracle_module(self.repo)
        oracle.tokens_oracle = functools.partial(tokengen.tokens_oracle, seed=self.seed)
        want = {agg_tuple(r) for _, r in oracle.pipeline_oracle(ORACLE_PREFIX_ROWS)[1].iterrows()}
        prefix = spark.read.parquet(self.input.path).filter(
            F.col("doc_id") < f"doc-{ORACLE_PREFIX_ROWS:012d}"
        )
        got = agg_rows(full_pipeline(prefix, spark)[1])
        return [] if got == want else ["pipeline_agg: prefix aggregates differ from the oracle"]


class CheckpointedJob:
    """``CheckpointedRunner(out, full_pipeline).run()`` over a stored tokens
    table split into chunks, into a fresh output directory each time."""

    name = "checkpointed_job"
    # one warm call: a single chunk runs every step of an iteration
    warmup_s = 0.0

    def __init__(self, spark: SparkSession, work: str, seed: int, repo: str):
        self.input = stage_tokens(spark, work, seed)
        self.rows = self.input.rows
        self.out_root = os.path.join(work, "out")
        shutil.rmtree(self.out_root, ignore_errors=True)
        self.runs = 0
        self.out = ""
        self._expected: set[tuple] | None = None

    def expected(self, spark: SparkSession) -> set[tuple]:
        """pipeline_agg's aggregates of the same input; made at the first
        check, after the warm-up, when the pipeline runs warm."""
        if self._expected is None:
            self._expected = agg_rows(full_pipeline(spark.read.parquet(self.input.path), spark)[1])
        return self._expected

    def runner(self, out: str) -> CheckpointedRunner:
        return CheckpointedRunner(out, full_pipeline, files_per_chunk=JOB_FILES_PER_CHUNK)

    def iterate(self, spark: SparkSession, max_chunks: int | None = None) -> CheckpointedRunner:
        self.runs += 1
        self.out = os.path.join(self.out_root, f"job-{self.runs}")
        runner = self.runner(self.out)
        runner.run(spark, self.input.path, max_chunks=max_chunks)
        return runner

    def warm(self, spark: SparkSession) -> None:
        self.iterate(spark, max_chunks=1)

    def check(self, runner: CheckpointedRunner) -> list[str]:
        spark = SparkSession.getActiveSession()
        fails = []
        if agg_rows(runner.aggregates(spark)) != self.expected(spark):
            fails.append("checkpointed_job: committed aggregates differ from pipeline_agg's")
        copies = runner.routed(spark).groupBy("doc_id").count()
        wrong = (
            spark.read.parquet(self.input.path)
            .select("doc_id", F.lit(True).alias("input"))
            .join(copies, "doc_id", "full_outer")
            .filter(F.col("input").isNull() | F.col("count").isNull() | (F.col("count") != 1))
            .count()
        )
        if wrong:
            fails.append("checkpointed_job: routed rows do not hold every doc_id exactly once")
        return fails

    def cleanup(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)


WORKLOADS = {w.name: w for w in (PipelineAgg, CheckpointedJob)}
