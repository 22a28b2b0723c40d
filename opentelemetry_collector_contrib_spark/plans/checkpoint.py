"""Checkpoint / exactly-once resume.

Reference: the filelog receiver persists per-file ``{Fingerprint, Offset}``
metadata through a storage extension and resumes reading from saved offsets
(`pkg/stanza/fileconsumer/internal/checkpoint/checkpoint.go:20-45`,
`internal/reader/reader.go:50-122`). Dataset restatement: the unit of
progress is a **chunk of input files** (the offset analog at table
granularity). A chunk is committed by two writes, in this order:

  1. its routed rows, an idempotent overwrite of ``data/chunk=<id>``;
  2. ONE commit row, a one-row parquet file that the driver writes under a
     ``_``-prefixed name (which every reader skips) and then renames to
     ``checkpoint/part-<chunk>-<run>.parquet``.

The commit row is both the chunk's checkpoint and its lineage: the input rows
it read, the rows and tokens it routed, its wall time, and the routed schema.
The rename publishes the whole file or nothing (atomic on HDFS and local
disks), so no crash leaves a committed chunk without its counts. A killed
run re-processes at most the in-flight chunk, whose partial output the
overwrite replaces — exactly-once output without a custom commit protocol.

Each chunk is ONE Spark job, the routed write, and a single pass over its
input: the pipeline runs once, inside that write. Two ``Observation``s ride
on it, one on the chunk's input (``rows_in``) and one on the routed rows
(``rows`` and ``tokens``), so counting costs no extra job. The input schema
is read once a run, when the chunks are planned, and every chunk reads its
files with it, so no chunk runs a schema-inference job; the commit row is
written from the driver (pyarrow bytes through the Hadoop file system), so
committing runs no job either.

The aggregates are computed at read time: ``aggregates()`` is
``aggregate_stage`` over the committed routed rows, a scan of four pruned
columns (route, source, severity_text, n_tok). Stored per-chunk
pre-aggregates would cost every commit a read-back and a write to spare that
one scan to the one reader that needs it (``run.py`` reads them once a run).

At 10^12-row scale each chunk is itself a fully parallel Spark job over
hundreds of files; the driver loop adds one scheduling round-trip per chunk
(seconds) while bounding re-work after failure to one chunk.

Layout under ``out_dir``:
  data/chunk=<id>/route=<r>/*.parquet   routed rows (per-route sinks)
  checkpoint/part-<id>-<run>.parquet    one CHECKPOINT_SCHEMA row per chunk

Readers (``routed()`` / ``aggregates()``) see COMMITTED chunks only: the
chunk partition column is filtered against the commit rows, so a chunk whose
data write landed but whose commit row never did (crash between step 1 and
step 2) is invisible until a resume re-overwrites and commits it — the
exactly-once read view holds at all times, not just after resume. They read
with the schema stored in the commit row, so committed chunks that routed no
rows (an empty chunk leaves only ``_SUCCESS``) read as empty frames with the
usual columns, and no file footer is opened to infer a schema. The commit
rows are read on the driver, like they are written, so building a reader
(or asking for ``completed_chunks()``) starts no Spark job.
"""

from __future__ import annotations

import json
import time
import uuid
from typing import Callable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..datamodel import CHECKPOINT_SCHEMA
from .pipeline import aggregate_stage


def write_commit_row(spark: SparkSession, path: str, row: dict) -> None:
    """``row`` (CHECKPOINT_SCHEMA fields) as a one-row parquet file at
    ``path``, written from the driver: no Spark job. The bytes go to a
    ``_``-prefixed sibling first, which readers skip, and a rename
    publishes them whole."""
    buf = pa.BufferOutputStream()
    pq.write_table(pa.Table.from_pylist([row], schema=to_arrow_schema(CHECKPOINT_SCHEMA)), buf)
    hadoop_path = spark._jvm.org.apache.hadoop.fs.Path
    final = hadoop_path(path)
    tmp = hadoop_path(final.getParent(), "_" + final.getName())
    fs = final.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(tmp, True)
    try:
        out.write(buf.getvalue().to_pybytes())
    finally:
        out.close()
    if not fs.rename(tmp, final):
        raise OSError(f"could not rename {tmp} to {final}")


class CheckpointedRunner:
    """Runs ``pipeline_fn`` chunk by chunk with exactly-once commits.

    ``pipeline_fn(df, spark)`` returns ``(routed, aggs)``; only ``routed`` is
    evaluated. The aggregates are ``aggregate_stage`` over the committed
    routed rows.
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

    def _commits(self, spark: SparkSession, *cols: str) -> list[dict]:
        """``cols`` of every commit row; none before the first commit. The
        rows are read on the driver, the way ``write_commit_row`` writes
        them (pyarrow over the Hadoop file system): no Spark job."""
        # Only "checkpoint dir doesn't exist yet" means "no chunks committed".
        # routed()/aggregates() filter on this result, so swallowing a real
        # read error (permissions, storage blip, old-schema dir) would make
        # readers silently return 0 rows; those must propagate.
        path = spark._jvm.org.apache.hadoop.fs.Path(f"{self.out_dir}/checkpoint")
        fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(path):
            return []
        # A dir that exists but holds no committed parquet part (crash after
        # mkdir before the first commit, or a leftover _temporary-only dir)
        # is the same "nothing committed yet" state. ``_``-prefixed files
        # (a commit row not yet renamed into place) are not committed.
        tables = []
        for status in fs.listStatus(path):
            part = status.getPath()
            name = part.getName()
            if status.isFile() and name.endswith(".parquet") and not name.startswith(("_", ".")):
                stream = fs.open(part)
                try:
                    data = stream.readAllBytes()
                finally:
                    stream.close()
                tables.append(pq.read_table(pa.BufferReader(data), columns=list(cols)))
        return pa.concat_tables(tables).to_pylist() if tables else []

    def completed_chunks(self, spark: SparkSession) -> set[str]:
        return {r["chunk_id"] for r in self._commits(spark, "chunk_id")}

    # ------------------------------------------------------------------ run

    def plan_chunks(self, spark: SparkSession, input_path: str) -> list[tuple[str, list[str]]]:
        return self._plan(spark, input_path)[0]

    def _plan(
        self, spark: SparkSession, input_path: str
    ) -> tuple[list[tuple[str, list[str]]], T.StructType]:
        """The chunks, and the input schema every chunk is read with."""
        source = spark.read.parquet(input_path)
        files = sorted(source.inputFiles())
        chunks = []
        for i in range(0, len(files), self.files_per_chunk):
            group = files[i : i + self.files_per_chunk]
            chunks.append((f"{i // self.files_per_chunk:05d}", group))
        return chunks, source.schema

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
        chunks, schema = self._plan(spark, input_path)
        processed = 0
        for chunk_id, files in chunks:
            if chunk_id in done:
                continue
            if max_chunks is not None and processed >= max_chunks:
                break
            t0 = time.time()
            seen, out = Observation(), Observation()
            df = spark.read.schema(schema).parquet(*files).observe(
                seen, F.count(F.lit(1)).alias("rows")
            )
            routed = self.pipeline_fn(df, spark)[0].observe(
                out,
                F.count(F.lit(1)).alias("rows"),
                F.coalesce(F.sum("n_tok"), F.lit(0)).alias("tokens"),
            )

            # (1) idempotent data commit: overwrite THIS chunk's directory
            routed.write.mode("overwrite").partitionBy("route").parquet(
                f"{self.out_dir}/data/chunk={chunk_id}"
            )
            # (2) the commit row, written AFTER the data is down; both
            # observations were filled by the routed write above
            totals = out.get
            commit = {
                "run_id": run_id,
                "chunk_id": chunk_id,
                "rows_in": seen.get["rows"],
                "rows": totals["rows"],
                "tokens": totals["tokens"],
                "wall_ms": int((time.time() - t0) * 1000),
                "routed_schema": routed.schema.json(),
            }
            write_commit_row(
                spark, f"{self.out_dir}/checkpoint/part-{chunk_id}-{run_id}.parquet", commit
            )
            processed += 1
        return run_id

    # ------------------------------------------------------------- results

    def routed(self, spark: SparkSession) -> DataFrame:
        """Committed chunks' routed rows. The root is read (not a
        ``chunk=*`` glob), so ``chunk`` is a discovered partition column and
        uncommitted chunk directories are pruned before any task reads them."""
        commits = self._commits(spark, "chunk_id", "routed_schema")
        if not commits:
            raise ValueError(f"no committed chunk under {self.out_dir}")
        schema = T.StructType.fromJson(json.loads(commits[0]["routed_schema"]))
        return (
            spark.read.schema(schema.add("chunk", T.IntegerType()))
            .parquet(f"{self.out_dir}/data")
            .filter(F.col("chunk").isin([int(c["chunk_id"]) for c in commits]))
        )

    def aggregates(self, spark: SparkSession) -> DataFrame:
        """Per-sink row and token totals of the committed routed rows."""
        return aggregate_stage(self.routed(spark))

    def metrics(self, spark: SparkSession) -> DataFrame:
        """The commit rows: one per committed chunk."""
        return spark.read.schema(CHECKPOINT_SCHEMA).parquet(f"{self.out_dir}/checkpoint")
