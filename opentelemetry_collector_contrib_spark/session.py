"""SparkSession factory tuned for the log pipeline.

Defaults are sized from the host (local[N] over the CPU affinity set, driver
heap at most half of physical memory) but every knob is the one you would
set on a 1000-executor cluster: AQE on (runtime re-plan + skew-join
splitting), small broadcast threshold raised, Arrow enabled for the
vectorized pandas-UDF parse stage, shuffle partitions at 2-3× core count so
AQE can coalesce down.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_pkg_zip_path: str | None = None


def package_zip() -> str:
    """Zip this package for shipping to executors — the local-mode analog of
    ``spark-submit --py-files pkg.zip`` (cached per process)."""
    global _pkg_zip_path
    if _pkg_zip_path is None or not os.path.exists(_pkg_zip_path):
        fd, path = tempfile.mkstemp(suffix=".zip", prefix="otel_spark_pkg_")
        os.close(fd)
        pkg_name = os.path.basename(_PKG_DIR)
        with zipfile.ZipFile(path, "w") as zf:
            for root, _dirs, files in os.walk(_PKG_DIR):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.join(pkg_name, os.path.relpath(full, _PKG_DIR))
                        zf.write(full, rel)
        _pkg_zip_path = path
    return _pkg_zip_path


def default_parallelism() -> int:
    """``SPARK_GRAFT_CPUS``, else the cores this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


def default_driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else half of physical memory capped at
    24g. In local mode the driver heap is the executor heap, and the Python
    workers and the OS need the other half."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(total_kb // 2048, 24 * 1024)}m"


def get_spark(
    master: str | None = None,
    app_name: str = "otel-contrib-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with pipeline-appropriate defaults.

    On a real cluster, drop ``master`` and submit with spark-submit
    --py-files; all other conf carries over unchanged.
    """
    cores = default_parallelism()
    master = master or f"local[{cores}]"
    shuffle_partitions = shuffle_partitions or max(cores * 2, 8)

    # glibc malloc keeps mmap'ing/munmap'ing the multi-MB temporaries that
    # numpy/Arrow UDF batches allocate (default M_MMAP_THRESHOLD=128K); with
    # 32 concurrent Python workers the resulting mmap_sem traffic turns into
    # ~95% SYSTEM time and a >3× slowdown (measured: 16-way tokengen 14.2s →
    # 4.2s with these thresholds). Raising the thresholds makes glibc retain
    # and reuse heap arenas instead. Set in our env BEFORE the JVM forks so
    # local-mode python workers inherit it; executorEnv carries the same to
    # real clusters.
    malloc_env = {
        "MALLOC_MMAP_THRESHOLD_": "268435456",
        "MALLOC_TRIM_THRESHOLD_": "268435456",
    }
    for k, v in malloc_env.items():
        os.environ.setdefault(k, v)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # AQE: runtime coalescing of small shuffle partitions + automatic
        # skew-join splitting (the north rule's explicit skew handling rides
        # on this plus salting in plans/pipeline.py).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # All lookup/enrich tables are small dims → always broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Arrow transfer for pandas UDFs (the vectorized parse stage).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 100k-row Arrow batches: the grok UDF is ~2× faster than with the
        # 10k default (per-batch pipe/serialization overhead amortizes).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        # Local-bench partition sizing: GB-scale inputs must still produce
        # ≥2× core-count scan partitions or local[32] idles. On a real
        # cluster with TB inputs the 128m default already yields
        # partitions ≫ cores; this only matters at sandbox scale.
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        # Deterministic session timezone so ts rendering matches oracles.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", default_driver_memory())
    )
    for k, v in malloc_env.items():
        builder = builder.config(f"spark.executorEnv.{k}", v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Ship the package to Python workers (pandas-UDF closures reference
    # module-level code). On a real cluster this is spark-submit --py-files;
    # here addPyFile gives identical semantics in every master mode.
    spark.sparkContext.addPyFile(package_zip())
    return spark
