#!/usr/bin/env python3
"""Benchmark of the log engine: one workload per run, one closed-loop client.

Usage (from the repository root)::

    python3 perfbench/run.py --workload pipeline_agg --seed 1 --seconds 10 --trace 0

Workloads: ``pipeline_agg`` and ``checkpointed_job`` (see perfbench/README.md).
The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` makes a separate traced pass and
reports the per-layer metrics instead.

Spark is sized from the host (CPU affinity set, physical memory) before the
engine's ``session`` module is imported. Everything the run writes (staged
inputs, Spark local and event-log directories, outputs, spans) stays under
perfbench/.work.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")

import host  # noqa: E402  (stdlib only)

END_TO_END_UNITS = {
    "setup_s": "s",
    "rows_per_s": "1/s",
    "cpu_s_per_mrow": "s",
    "peak_rss_mb": "MB",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def size_host() -> tuple[int, int]:
    """Size from the host and export the engine's sizing variables. Must run
    before ``opentelemetry_collector_contrib_spark.session`` is imported."""
    cores, heap = host.host_cores(), host.heap_mb()
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=f"{heap}m",
        # package_zip() and every child process put temporaries here
        TMPDIR=tmp,
        # overrides spark.local.dir when set in the caller's environment
        SPARK_LOCAL_DIRS=local,
    )
    return cores, heap


def spark_conf(event_dir: str | None = None) -> dict[str, str]:
    conf = {
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
        })
    return conf


def _identity(batches):
    yield from batches


class Sessions:
    """Creates, warms and stops SparkSessions."""

    def __init__(self, get_spark, cores: int):
        self.get_spark = get_spark
        self.cores = cores
        self.spark = None

    def start(self, conf: dict[str, str], cores: int = 0) -> tuple[float, float]:
        """Returns the seconds spent in ``get_spark`` and in warming the UDF
        workers."""
        cores = cores or self.cores
        t0 = time.perf_counter()
        spark = self.get_spark(master=f"local[{cores}]", extra_conf=conf)
        t1 = time.perf_counter()
        # one task per core → one Python worker per core, all forked now
        spark.range(0, cores, 1, cores).mapInPandas(_identity, "id long").collect()
        self.spark = spark
        return t1 - t0, time.perf_counter() - t1

    def restart(self, conf: dict[str, str], cores: int = 0) -> None:
        self.spark.stop()
        self.start(conf, cores=cores)

    def close(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


class Loop:
    """The closed loop: iterate, time, account CPU, check, clean up."""

    def __init__(self, wl):
        self.wl = wl
        self.walls: list[float] = []
        self.cpus: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def record(self, errs: list[str]) -> None:
        self.attempted += 1
        self.failed += bool(errs)
        self.failures += errs

    def once(self, spark) -> None:
        """One timed, checked iteration."""
        cpu0 = host.tree_cpu_s()
        t0 = time.perf_counter()
        try:
            out = self.wl.iterate(spark)
            wall = time.perf_counter() - t0
            cpu = host.tree_cpu_s() - cpu0
            errs = self.wl.check(out)
        except Exception:  # a failed operation is counted, the run goes on
            traceback.print_exc()
            errs = [f"{self.wl.name}: iteration raised"]
        finally:
            self.wl.cleanup()
        self.record(errs)
        if not errs:
            self.walls.append(wall)
            self.cpus.append(cpu)

    def warm_up(self, spark) -> None:
        """Untimed, unchecked warm calls, at least one and for at least the
        workload's ``warmup_s``: the JIT, the Python workers and Spark's
        planner caches settle."""
        end = time.perf_counter() + self.wl.warmup_s
        while True:
            try:
                self.wl.warm(spark)
            finally:
                self.wl.cleanup()
            if time.perf_counter() >= end:
                return

    def run(self, spark, seconds: float) -> None:
        """Warm up, then iterate until ``seconds`` of timed work (at least one
        timed iteration; a checkpointed_job iteration alone is about as long
        as --seconds)."""
        self.warm_up(spark)
        log("warmed up")
        deadline = time.monotonic() + 3 * seconds + 60
        while (not self.walls or sum(self.walls) < seconds) and time.monotonic() < deadline:
            self.once(spark)


def log(msg: str) -> None:
    print(f"perfbench [{host.process_age_s():7.2f}s] {msg}", file=sys.stderr, flush=True)


def stage_inputs(spark, seed: int, trace: bool) -> None:
    """Stage (or find cached) every input the run reads."""
    import layers
    import staging
    import workloads

    workloads.stage_tokens(spark, WORK, seed)
    if trace:
        staging.stage(spark, os.path.join(WORK, "cache"), "records",
                      layers.EXPORT_RECORDS, seed, layers.EXPORT_FILES)


def end_to_end(wl, loop: Loop, setup: tuple[float, float, float], peak_rss_mb: float) -> dict[str, float]:
    return {
        "setup_s": setup[0],
        "rows_per_s": wl.rows / statistics.median(loop.walls),
        "cpu_s_per_mrow": statistics.median(loop.cpus) / wl.rows * 1e6,
        "peak_rss_mb": peak_rss_mb,
    }


def single_core_rows_per_s(sessions: Sessions, pipe) -> float:
    """pipeline_agg at local[1] with the whole process tree (driver, JVM,
    Python workers) pinned to one core of the affinity set."""
    allowed = os.sched_getaffinity(0)
    sessions.restart(spark_conf(), cores=1)
    host.pin_tree({min(allowed)})
    try:
        pipe.final_check(sessions.spark)  # warms the plan on the pinned core
        t0 = time.perf_counter()
        pipe.iterate(sessions.spark)
        return pipe.rows / (time.perf_counter() - t0)
    finally:
        host.pin_tree(allowed)


def traced(args, workloads, wl, loop: Loop, sessions: Sessions, cores: int,
           setup: tuple[float, float, float]) -> dict:
    """The separate traced pass: a fresh session with Spark's event log on,
    one warm call of the workload, then every layer probe. The probes include one
    traced iteration of each workload; this workload's runs first, and its
    wall time minus the untraced reference is the tracing overhead."""
    import eventlog
    import layers
    import staging
    from spans import Tracer

    event_dir = os.path.join(WORK, "eventlog")
    shutil.rmtree(event_dir, ignore_errors=True)
    os.makedirs(event_dir)
    sessions.restart(spark_conf(event_dir))
    spark, tracer = sessions.spark, Tracer(f"{args.workload}-seed{args.seed}")
    spark.sparkContext.setJobGroup("perfbench-probe", "layer probes")
    out = {"session.get_spark_s": setup[1], "session.udf_warm_s": setup[2]}
    pipe = wl if wl.name == "pipeline_agg" else workloads.PipelineAgg(spark, WORK, args.seed, REPO)
    job = wl if wl.name == "checkpointed_job" else workloads.CheckpointedJob(spark, WORK, args.seed, REPO)
    records = staging.stage(spark, os.path.join(WORK, "cache"), "records",
                            layers.EXPORT_RECORDS, args.seed, layers.EXPORT_FILES)
    probes = [(pipe.name, layers.pipeline, pipe), (job.name, layers.checkpoint, job)]
    if wl is job:  # this workload's iteration runs first, right after its warm-up
        probes.reverse()
    walls = {}
    # The JIT is warm, but a fresh SparkContext makes the next iteration
    # ~25 % slower; one warm call settles it.
    wl.warm(spark)
    wl.cleanup()
    with tracer.span("layers"):
        for name, probe, workload in probes:
            metrics, walls[name], errs = probe(spark, tracer, workload)
            out.update(metrics)
            loop.record(errs)
        metrics, errs = layers.export(spark, tracer, records.path, records.rows)
        out.update(metrics)
        loop.record(errs)
    out["bench.trace_overhead_s"] = walls[wl.name] - statistics.median(loop.walls)
    log("layer probes done")

    one = single_core_rows_per_s(sessions, pipe)  # also ends the event log
    out["scaling.rows_per_s_1core"] = one
    out["scaling.efficiency_1_to_N"] = pipe.rows / walls[pipe.name] / (cores * one)
    sessions.close()

    lines = eventlog.read_events(event_dir)
    for k, v in eventlog.summarize(lines, f"perfbench-{wl.name}").items():
        out[f"spark.{k}"] = v
    read = eventlog.summarize(lines, f"perfbench-{job.name}")["input_records"]
    out["plans.checkpoint.input_passes"] = read / job.rows
    os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
    tracer.dump(os.path.join(WORK, "spans", f"{tracer.trace_id}.jsonl"))
    return out


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    cores, heap = size_host()
    sys.path.insert(0, REPO)
    try:
        from opentelemetry_collector_contrib_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {REPO}: {e}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sessions = Sessions(get_spark, cores)
    try:
        # setup_s: from process start to a session with warm UDF workers.
        # A cold set-up costs ~11 s on a 4-core host, so a run makes one;
        # the runs across seeds give its spread.
        get_s, warm_s = sessions.start(spark_conf())
        setup = (host.process_age_s(), get_s, warm_s)
        log(f"set-up done: {setup[0]:.2f}s; cores={cores} heap_mb={heap}")
        stage_inputs(sessions.spark, args.seed, bool(args.trace))
        # A fresh session, so the measured Python workers never held the
        # generator's batches; they would add ~400 MB to peak_rss_mb on
        # uncached runs only.
        sessions.restart(spark_conf())
        log("input staged")
        wl = workloads.WORKLOADS[args.workload](sessions.spark, WORK, args.seed, REPO)
        loop = Loop(wl)
        # a traced run needs only one untraced reference iteration
        loop.run(sessions.spark, 0 if args.trace else args.seconds)
        peak_rss_mb = host.tree_hwm_mb()
        if hasattr(wl, "final_check"):
            loop.record(wl.final_check(sessions.spark))
        log(f"loop done: walls={[round(w, 3) for w in loop.walls]}")
        if not loop.walls:
            print("perfbench: no iteration succeeded", file=sys.stderr)
            return 1
        if args.trace:
            import layers

            values, units = traced(args, workloads, wl, loop, sessions, cores, setup), layers.UNITS
        else:
            values, units = end_to_end(wl, loop, setup, peak_rss_mb), END_TO_END_UNITS
    finally:
        sessions.close()
        # the engine leaves its package zip in TMPDIR, one per process
        shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
        log("closed")
    for msg in loop.failures:
        print(f"perfbench: check failed: {msg}", file=sys.stderr)
    print(json.dumps({
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
