"""Kill/resume exactly-once test (SURVEY §5 rebuild plan item 4)."""

import shutil
import tempfile

import pytest

from opentelemetry_collector_contrib_spark.plans.checkpoint import CheckpointedRunner
from opentelemetry_collector_contrib_spark.plans.pipeline import full_pipeline
from opentelemetry_collector_contrib_spark.sources.tokengen import tokens_df

N = 3000


@pytest.fixture(scope="module")
def tokens_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("ckpt") / "tokens")
    tokens_df(spark, N, num_partitions=8).write.parquet(p)
    return p


def _pipeline(df, spark):
    return full_pipeline(df, spark, match_once=True)


def test_resume_exactly_once(spark, tokens_path, tmp_path):
    out_interrupted = str(tmp_path / "out_a")
    out_oneshot = str(tmp_path / "out_b")

    # reference: a clean single run
    ref = CheckpointedRunner(out_oneshot, _pipeline, files_per_chunk=2)
    ref.run(spark, tokens_path)
    want = {r.doc_id for r in ref.routed(spark).select("doc_id").collect()}
    assert len(want) == N

    # "killed" run: stops after 2 chunks
    r = CheckpointedRunner(out_interrupted, _pipeline, files_per_chunk=2)
    r.run(spark, tokens_path, max_chunks=2)
    partial = r.routed(spark).select("doc_id").count()
    assert 0 < partial < N
    assert len(r.completed_chunks(spark)) == 2

    # resume: only remaining chunks processed; output identical to oneshot
    r.run(spark, tokens_path)
    got_rows = r.routed(spark).select("doc_id").collect()
    got = {x.doc_id for x in got_rows}
    assert got == want
    assert len(got_rows) == N  # no duplicates

    # aggregates match the oneshot aggregates
    a = {tuple(x) for x in r.aggregates(spark).collect()}
    b = {tuple(x) for x in ref.aggregates(spark).collect()}
    assert a == b

    # lineage recorded one row per chunk
    assert r.metrics(spark).count() == len(r.completed_chunks(spark))


def test_rerun_is_noop(spark, tokens_path, tmp_path):
    out = str(tmp_path / "out_c")
    r = CheckpointedRunner(out, _pipeline, files_per_chunk=4)
    r.run(spark, tokens_path)
    n1 = r.routed(spark).count()
    ck1 = len(r.completed_chunks(spark))
    r.run(spark, tokens_path)  # everything committed → no-op
    assert r.routed(spark).count() == n1
    assert len(r.completed_chunks(spark)) == ck1


def test_empty_checkpoint_dir_resumes_from_zero(spark, tokens_path, tmp_path):
    """A checkpoint dir that EXISTS but holds no committed parquet part —
    crash after mkdir before the first commit, or a leftover
    _temporary-only dir — must read as 'no chunks committed' and let run()
    restart from zero, not raise AnalysisException (ADVICE r03)."""
    import os

    out = str(tmp_path / "out_empty")
    r = CheckpointedRunner(out, _pipeline, files_per_chunk=4)
    os.makedirs(f"{out}/checkpoint/_temporary/0", exist_ok=True)
    assert r.completed_chunks(spark) == set()
    r.run(spark, tokens_path)  # full run from scratch
    assert r.routed(spark).count() == N
    assert len(r.completed_chunks(spark)) > 0


def test_uncommitted_chunk_invisible(spark, tokens_path, tmp_path):
    """A chunk whose data write landed but whose checkpoint row never did
    (crash between commit step 1 and step 2) must be invisible to readers
    until a resume re-commits it — the read view is exactly-once at all
    times (ADVICE r01)."""
    import glob
    import os

    out = str(tmp_path / "out_c")
    r = CheckpointedRunner(out, _pipeline, files_per_chunk=2)
    r.run(spark, tokens_path, max_chunks=2)
    from pyspark.sql import functions as F

    n_committed = r.routed(spark).count()
    agg_committed = r.aggregates(spark).agg(F.sum("token_count")).collect()[0][0]

    # simulate the torn commit: copy a committed chunk's data dir to a new
    # chunk id WITHOUT a checkpoint row (same bytes a crashed step-1 leaves)
    src = sorted(glob.glob(f"{out}/data/chunk=*"))[0]
    shutil.copytree(src, f"{out}/data/chunk=99999")
    src_a = sorted(glob.glob(f"{out}/aggs/chunk=*"))[0]
    shutil.copytree(src_a, f"{out}/aggs/chunk=99999")

    assert r.routed(spark).count() == n_committed
    assert r.aggregates(spark).agg(F.sum("token_count")).collect()[0][0] == agg_committed
    assert not any("99999" in c for c in r.completed_chunks(spark))

    # cleanup so the directory doesn't poison later reads
    shutil.rmtree(f"{out}/data/chunk=99999")
    shutil.rmtree(f"{out}/aggs/chunk=99999")


def _check_commit_accounting(spark, r, input_path):
    """Each chunk's checkpoint row sums that chunk's aggs/, and its lineage
    row's rows_in is the chunk's input row count. Returns Σ rows_out."""
    from pyspark.sql import functions as F

    ckpt = {x.chunk_id: x for x in spark.read.parquet(f"{r.out_dir}/checkpoint").collect()}
    lineage = {x.stage: x for x in r.metrics(spark).collect()}
    chunks = r.plan_chunks(spark, input_path)
    assert set(ckpt) == {c for c, _ in chunks}
    for chunk_id, files in chunks:
        rows, tokens = (
            spark.read.parquet(f"{r.out_dir}/aggs/chunk={chunk_id}")
            .agg(F.sum("row_count"), F.sum("token_count"))
            .first()
        )
        assert (ckpt[chunk_id].rows, ckpt[chunk_id].tokens) == (rows, tokens)
        line = lineage[f"chunk:{chunk_id}"]
        assert (line.rows_in, line.rows_out) == (spark.read.parquet(*files).count(), rows)
    return sum(x.rows_out for x in lineage.values())


@pytest.mark.parametrize(
    "kwargs, fewer",
    [({"with_sampling": True}, True), ({"match_once": False}, False)],
    ids=["sampled", "multicast"],
)
def test_commit_accounting(spark, tokens_path, tmp_path, kwargs, fewer):
    """rows_in counts the input, rows/tokens the routed rows: a sampling
    pipeline emits fewer rows than it reads, a multicast one more."""
    r = CheckpointedRunner(
        str(tmp_path / "out"), lambda df, s: full_pipeline(df, s, **kwargs), files_per_chunk=4
    )
    r.run(spark, tokens_path)
    rows_out = _check_commit_accounting(spark, r, tokens_path)
    assert (rows_out < N) if fewer else (rows_out > N)
    assert r.routed(spark).count() == rows_out


def test_pipeline_runs_once_per_chunk(spark, tokens_path, tmp_path):
    """A counting UDF on n_tok, which routing, the routed rows and the
    aggregates all read, sees every input row exactly once."""
    import pandas as pd
    from pyspark.sql import functions as F

    seen = spark.sparkContext.accumulator(0)

    @F.pandas_udf("int")
    def counted(s: pd.Series) -> pd.Series:
        seen.add(len(s))
        return s

    counted = counted.asNondeterministic()

    def pipeline(df, s):
        return full_pipeline(df.withColumn("n_tok", counted("n_tok")), s)

    r = CheckpointedRunner(str(tmp_path / "out"), pipeline, files_per_chunk=4)
    r.run(spark, tokens_path)
    assert seen.value == N
    _check_commit_accounting(spark, r, tokens_path)
    want = {tuple(x) for x in full_pipeline(spark.read.parquet(tokens_path), spark)[1].collect()}
    assert {tuple(x) for x in r.aggregates(spark).collect()} == want


def test_empty_chunk_commits_zero(spark, tokens_path, tmp_path):
    """A chunk of one zero-row parquet file commits rows=0, tokens=0."""
    src = str(tmp_path / "empty")
    spark.read.parquet(tokens_path).limit(0).write.parquet(src)
    out = str(tmp_path / "out")
    r = CheckpointedRunner(out, _pipeline)
    r.run(spark, src)
    (ck,) = spark.read.parquet(f"{out}/checkpoint").collect()
    assert (ck.rows, ck.tokens) == (0, 0)
    (line,) = r.metrics(spark).collect()
    assert (line.rows_in, line.rows_out) == (0, 0)
    assert r.aggregates(spark).count() == 0
