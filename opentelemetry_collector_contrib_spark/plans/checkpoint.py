"""Checkpoint / lineage / exactly-once resume.

Reference: the filelog receiver persists per-file ``{Fingerprint, Offset}``
metadata through a storage extension and resumes reading from saved offsets
(`pkg/stanza/fileconsumer/internal/checkpoint/checkpoint.go:20-45`,
`internal/reader/reader.go:50-122`). Dataset restatement: the unit of
progress is a **chunk of input files** (the offset analog at table
granularity); a chunk is committed by (1) an idempotent overwrite of that
chunk's output directories, then (2) appending a checkpoint row. A killed
run re-processes at most the in-flight chunk, whose partial output the
overwrite replaces — exactly-once output without a custom commit protocol.

Each chunk is a single pass over its input: the pipeline runs once, inside
the routed-rows write. Two ``Observation``s ride on that write, one on the
chunk's input (``rows_in``) and one on the routed rows (the checkpoint row's
``rows`` and ``tokens``), so counting costs no extra job. The per-chunk
pre-aggregates are then built by ``aggregate_stage`` from a column-pruned
read-back of the rows just written (route, source, severity_text, n_tok), so
grok and the rest of the pipeline never run twice. The checkpoint and
lineage rows are written from local relations.

At 10^12-row scale each chunk is itself a fully parallel Spark job over
hundreds of files; the driver loop adds one scheduling round-trip per chunk
(seconds) while bounding re-work after failure to one chunk.

Layout under ``out_dir``:
  data/chunk=<id>/route=<r>/*.parquet   routed rows (per-route sinks)
  aggs/chunk=<id>/*.parquet             per-chunk pre-aggregates
  checkpoint/*.parquet                  CHECKPOINT_SCHEMA (run_id, chunk_id,
                                        rows, tokens, wall_ms)
  lineage/*.parquet                     (run_id, stage, rows_in, rows_out, wall_ms)

Readers (``routed()`` / ``aggregates()``) see COMMITTED chunks only: the
chunk partition column is filtered against the checkpoint table, so a chunk
whose data write landed but whose checkpoint append never did (crash between
step 1 and step 2) is invisible until a resume re-overwrites and commits it —
the exactly-once read view holds at all times, not just after resume.
"""

from __future__ import annotations

import time
import uuid
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..datamodel import CHECKPOINT_SCHEMA
from .pipeline import aggregate_stage


class CheckpointedRunner:
    """Runs ``pipeline_fn`` chunk by chunk with exactly-once commits.

    ``pipeline_fn(df, spark)`` returns ``(routed, aggs)``; only ``routed`` is
    evaluated. The committed aggregates are ``aggregate_stage`` over the
    routed rows as written.
    """

    def __init__(
        self,
        out_dir: str,
        pipeline_fn: Callable[[DataFrame, SparkSession], tuple[DataFrame, DataFrame]],
        files_per_chunk: int = 16,
    ):
        self.out_dir = out_dir.rstrip("/")
        self.pipeline_fn = pipeline_fn
        self.files_per_chunk = files_per_chunk

    # ---------------------------------------------------------------- state

    def completed_chunks(self, spark: SparkSession) -> set[str]:
        # Only "checkpoint dir doesn't exist yet" means "no chunks committed".
        # routed()/aggregates() filter on this result, so swallowing a real
        # read error (permissions, storage blip, old-schema dir) would make
        # readers silently return 0 rows; those must propagate.
        path = f"{self.out_dir}/checkpoint"
        jvm_path = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(jvm_path):
            return set()
        # A dir that exists but holds no committed parquet part (crash after
        # mkdir before the first commit, or a leftover _temporary-only dir)
        # is the same "nothing committed yet" state — resume from zero
        # instead of raising AnalysisException on an unreadable listing.
        # Genuine IO/permission errors still propagate from the listing.
        it = fs.listFiles(jvm_path, True)
        has_part = False
        while it.hasNext():
            name = it.next().getPath().getName()
            if name.endswith(".parquet") and not name.startswith(("_", ".")):
                has_part = True
                break
        if not has_part:
            return set()
        return {
            r.chunk_id
            for r in spark.read.parquet(path).select("chunk_id").distinct().collect()
        }

    def _append(self, spark: SparkSession, sub: str, rows: list[dict], schema) -> None:
        # a pandas frame becomes a local relation (Arrow is on): one task,
        # one file, no parallelized RDD to scan
        spark.createDataFrame(pd.DataFrame(rows), schema).write.mode("append").parquet(
            f"{self.out_dir}/{sub}"
        )

    # ------------------------------------------------------------------ run

    def plan_chunks(self, spark: SparkSession, input_path: str) -> list[tuple[str, list[str]]]:
        files = sorted(spark.read.parquet(input_path).inputFiles())
        chunks = []
        for i in range(0, len(files), self.files_per_chunk):
            group = files[i : i + self.files_per_chunk]
            chunks.append((f"{i // self.files_per_chunk:05d}", group))
        return chunks

    def run(
        self,
        spark: SparkSession,
        input_path: str,
        run_id: str | None = None,
        max_chunks: int | None = None,
    ) -> str:
        """Process all not-yet-committed chunks. ``max_chunks`` limits work
        (used by the kill/resume test to simulate a mid-run crash)."""
        run_id = run_id or uuid.uuid4().hex[:12]
        done = self.completed_chunks(spark)
        processed = 0
        for chunk_id, files in self.plan_chunks(spark, input_path):
            if chunk_id in done:
                continue
            if max_chunks is not None and processed >= max_chunks:
                break
            t0 = time.time()
            seen, out = Observation(), Observation()
            df = spark.read.parquet(*files).observe(seen, F.count(F.lit(1)).alias("rows"))
            routed = self.pipeline_fn(df, spark)[0].observe(
                out,
                F.count(F.lit(1)).alias("rows"),
                F.coalesce(F.sum("n_tok"), F.lit(0)).alias("tokens"),
            )

            # (1) idempotent data commit: overwrite THIS chunk's directories;
            # the aggregates read back only the columns they group and sum
            data_dir = f"{self.out_dir}/data/chunk={chunk_id}"
            routed.write.mode("overwrite").partitionBy("route").parquet(data_dir)
            aggregate_stage(spark.read.schema(routed.schema).parquet(data_dir)).write.mode(
                "overwrite"
            ).parquet(f"{self.out_dir}/aggs/chunk={chunk_id}")
            # both observations were filled by the routed write above
            rows_in = seen.get["rows"]
            totals = out.get
            wall_ms = int((time.time() - t0) * 1000)

            # (2) progress commit: checkpoint row appended AFTER data is down
            self._append(
                spark,
                "checkpoint",
                [
                    {
                        "run_id": run_id,
                        "chunk_id": chunk_id,
                        "rows": totals["rows"],
                        "tokens": totals["tokens"],
                        "wall_ms": wall_ms,
                    }
                ],
                CHECKPOINT_SCHEMA,
            )
            self._append(
                spark,
                "lineage",
                [
                    {
                        "run_id": run_id,
                        "stage": f"chunk:{chunk_id}",
                        "rows_in": rows_in,
                        "rows_out": totals["rows"],
                        "wall_ms": wall_ms,
                    }
                ],
                "run_id string, stage string, rows_in long, rows_out long, wall_ms long",
            )
            processed += 1
        return run_id

    # ------------------------------------------------------------- results

    def _committed(self, spark: SparkSession, sub: str) -> DataFrame:
        """``sub``'s rows of committed chunks. The root is read (not a
        ``chunk=*`` glob), so ``chunk`` is a discovered partition column and
        uncommitted chunk directories are pruned before any task reads them."""
        committed = sorted(int(c) for c in self.completed_chunks(spark))
        df = spark.read.parquet(f"{self.out_dir}/{sub}")
        return df.filter(F.col("chunk").cast("int").isin(committed))

    def routed(self, spark: SparkSession) -> DataFrame:
        """Committed chunks' routed rows."""
        return self._committed(spark, "data")

    def aggregates(self, spark: SparkSession) -> DataFrame:
        """Merge per-chunk pre-aggregates (partial-agg pattern: the heavy
        groupBy ran inside each chunk; this is the cheap final combine).
        Committed chunks only, like ``routed()``."""
        per_chunk = self._committed(spark, "aggs")
        dims = [
            c for c in per_chunk.columns if c not in ("row_count", "token_count", "chunk")
        ]
        return per_chunk.groupBy(*dims).agg(
            F.sum("row_count").cast("long").alias("row_count"),
            F.sum("token_count").cast("long").alias("token_count"),
        )

    def metrics(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(f"{self.out_dir}/lineage")
