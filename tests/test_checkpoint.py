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

    # one commit row per chunk
    assert r.metrics(spark).count() == len(r.completed_chunks(spark))


def test_rerun_is_noop(spark, tokens_path, tmp_path):
    import os

    out = str(tmp_path / "out_c")
    r = CheckpointedRunner(out, _pipeline, files_per_chunk=4)
    r.run(spark, tokens_path)
    n1 = r.routed(spark).count()
    ck1 = len(r.completed_chunks(spark))
    r.run(spark, tokens_path)  # everything committed → no-op
    assert r.routed(spark).count() == n1
    assert len(r.completed_chunks(spark)) == ck1
    # the whole output: routed rows plus one commit-row file per chunk
    assert sorted(os.listdir(out)) == ["checkpoint", "data"]
    commits = [f for f in os.listdir(f"{out}/checkpoint") if f.endswith(".parquet")]
    assert len(commits) == ck1 == len(r.plan_chunks(spark, tokens_path))


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
    # chunk id WITHOUT a commit row (same bytes a crashed step-1 leaves)
    src = sorted(glob.glob(f"{out}/data/chunk=*"))[0]
    shutil.copytree(src, f"{out}/data/chunk=99999")

    assert r.routed(spark).count() == n_committed
    assert r.aggregates(spark).agg(F.sum("token_count")).collect()[0][0] == agg_committed
    assert not any("99999" in c for c in r.completed_chunks(spark))

    # cleanup so the directory doesn't poison later reads
    shutil.rmtree(f"{out}/data/chunk=99999")


def _check_commit_accounting(spark, r, input_path):
    """Each chunk's commit row counts that chunk's input (rows_in) and sums
    the routed rows under its data/chunk=<id> (rows, tokens). Returns Σ rows."""
    from pyspark.sql import functions as F

    commits = {x.chunk_id: x for x in r.metrics(spark).collect()}
    chunks = r.plan_chunks(spark, input_path)
    assert set(commits) == {c for c, _ in chunks}
    for chunk_id, files in chunks:
        rows, tokens = (
            spark.read.parquet(f"{r.out_dir}/data/chunk={chunk_id}")
            .agg(F.count(F.lit(1)), F.sum("n_tok"))
            .first()
        )
        c = commits[chunk_id]
        assert (c.rows_in, c.rows, c.tokens) == (spark.read.parquet(*files).count(), rows, tokens)
    return sum(x.rows for x in commits.values())


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
    (ck,) = r.metrics(spark).collect()
    assert (ck.rows_in, ck.rows, ck.tokens) == (0, 0, 0)
    assert r.routed(spark).count() == 0
    aggs = r.aggregates(spark)
    assert aggs.columns == ["route", "source", "severity_text", "row_count", "token_count"]
    assert aggs.count() == 0


def test_torn_commit_resumes_whole(spark, tokens_path, tmp_path, monkeypatch):
    """A crash inside a chunk's commit leaves no committed chunk without its
    counts: the resume redoes whatever did not commit, and every planned
    chunk ends with exactly one commit row carrying rows_in. The crash
    leaves a half-written ``_``-prefixed commit file behind, which no
    reader sees."""
    import os

    from opentelemetry_collector_contrib_spark.plans import checkpoint

    real, calls = checkpoint.write_commit_row, []

    def crash_on_second(spark, path, row):
        calls.append(path)
        if len(calls) == 2:
            head, name = os.path.split(path)
            with open(os.path.join(head, "_" + name), "wb") as torn:
                torn.write(b"PAR1")
            raise RuntimeError("killed mid-commit")
        return real(spark, path, row)

    monkeypatch.setattr(checkpoint, "write_commit_row", crash_on_second)
    out = str(tmp_path / "out")
    r = CheckpointedRunner(out, _pipeline, files_per_chunk=4)
    with pytest.raises(RuntimeError, match="killed mid-commit"):
        r.run(spark, tokens_path)
    assert len(r.completed_chunks(spark)) == 1
    monkeypatch.setattr(checkpoint, "write_commit_row", real)
    r.run(spark, tokens_path)

    commits = r.metrics(spark).collect()
    planned = [c for c, _ in r.plan_chunks(spark, tokens_path)]
    assert sorted(c.chunk_id for c in commits) == planned
    assert all(c.rows_in > 0 for c in commits)
    assert r.metrics(spark).count() == len(r.completed_chunks(spark))
    ids = r.routed(spark).groupBy("doc_id").count()
    assert ids.count() == N
    assert ids.filter("count != 1").count() == 0


def test_chunk_is_one_spark_job(spark, tokens_path, tmp_path):
    """A run starts at most one Spark job per chunk, its routed write, plus
    one for the whole run, which reads the input schema while planning:
    no chunk infers a schema, broadcasts a lookup table or writes its
    commit row through Spark."""
    r = CheckpointedRunner(str(tmp_path / "out"), _pipeline, files_per_chunk=4)
    chunks = r.plan_chunks(spark, tokens_path)
    assert len(chunks) == 2
    sc = spark.sparkContext
    sc.setJobGroup("checkpoint-jobs", "one run")
    try:
        r.run(spark, tokens_path)
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("checkpoint-jobs")
    assert len(jobs) <= len(chunks) + 1, len(jobs)
    assert r.routed(spark).count() == N


def test_readers_start_no_job(spark, tokens_path, tmp_path):
    """The commit rows are read on the driver: finding the committed chunks
    and building the routed and aggregate readers start no Spark job
    before an action."""
    r = CheckpointedRunner(str(tmp_path / "out"), _pipeline, files_per_chunk=4)
    r.run(spark, tokens_path)
    sc = spark.sparkContext
    sc.setJobGroup("checkpoint-readers", "reader builds")
    try:
        done = r.completed_chunks(spark)
        routed = r.routed(spark)
        aggs = r.aggregates(spark)
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("checkpoint-readers")
    assert len(jobs) == 0, jobs
    assert len(done) == 2
    assert routed.count() == N
    assert aggs.groupBy().sum("row_count").first()[0] == N
