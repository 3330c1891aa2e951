"""SparkSession factory with the engine's scale profile.

The same settings we would submit on a real cluster via
``spark-submit --py-files deidcm_spark.zip --conf ...``; in this sandbox the
master is local[N] but every choice is made for multi-executor behavior:

* AQE on with coalescing + skew handling — at 100 TB the post-shuffle
  partition count must be decided from runtime stats, not a constant;
* Arrow enabled with a bounded ``maxRecordsPerBatch`` — span arrays are wide,
  so Python-worker memory is bounded by batch rows × avg doc size;
* shuffle partitions sized for the test scale; on a 1000-executor cluster
  this comes from ``spark.sql.shuffle.partitions`` at submit time and AQE
  coalesces down.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from deidcm_spark import _cds

# Allocator / thread-pool profile for the Python workers (they inherit the
# driver's environment in local mode; on a cluster these ride
# spark.executorEnv.*).  Measured on the bench VM (see BENCH/BASELINE.md):
#
# * jemalloc decay off — pyarrow's pool returning pages to the OS on every
#   batch caused an mmap/TLB-shootdown storm (50-70% kernel time at 32
#   workers);
# * OMP_NUM_THREADS=1 — Arrow sizes its internal pool to ALL cores in EVERY
#   worker (32 workers x 32 threads thrash); parallelism belongs to Spark.
WORKER_ENV = {
    "MALLOC_CONF": "dirty_decay_ms:-1,muzzy_decay_ms:-1",
    "ARROW_JEMALLOC_CONF": "dirty_decay_ms:-1,muzzy_decay_ms:-1",
    "OMP_NUM_THREADS": "1",
}

# Where the driver imported this package from: a checkout or a --py-files
# archive.  The workers' daemon (_daemon) imports the package when it
# starts, before any task has put --py-files archives on sys.path.
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Driver JVM profile: ParallelGC beats G1 by >2x on this allocation pattern
# (short-lived Arrow batch buffers, 32 allocating task threads).
DRIVER_JAVA_OPTIONS = "-XX:+UseParallelGC"


def apply_worker_env() -> None:
    """Set the worker env vars on the current process so forked Python
    workers inherit them.  Must run before the JVM / first Arrow import."""
    for k, v in WORKER_ENV.items():
        os.environ.setdefault(k, v)


def get_spark(
    app_name: str = "deidcm_spark",
    master: str | None = None,
    shuffle_partitions: int = 32,
    extra_conf: dict | None = None,
) -> SparkSession:
    # NOTE (spark-submit drives): spark.driver.extraJavaOptions and
    # spark.driver.memory are JVM-LAUNCH options — set here they only take
    # effect when THIS call launches the JVM (python script / pytest).
    # Under `spark-submit run.py` the driver JVM already exists, so pass
    # them on the submit line (`--driver-java-options "$DRIVER_JAVA_OPTIONS"
    # --driver-memory 8g`) like bench_scaling.py does — CLAUDE.md
    # measured ParallelGC as load-bearing (>2x on the deid lane).  The same
    # holds for the class-data-sharing archive: such a session takes the
    # "off" path, and a submit line that wants the archive passes
    # `-XX:SharedArchiveFile=<cache>/<key>.jsa` in --driver-java-options
    # itself (with SPARK_CONF_DIR at the same empty directory, see _cds).
    # The Python daemon module and the workers' PYTHONPATH are session
    # confs: they hold under spark-submit too.
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    apply_worker_env()
    local_dir = (
        "/dev/shm/spark-local"
        if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK)
        else "/tmp/spark-local"
    )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.extraJavaOptions", DRIVER_JAVA_OPTIONS)
        .config("spark.local.dir", local_dir)
        # bucketed tables (co-located joins) land here, not in the repo cwd
        .config("spark.sql.warehouse.dir", "/tmp/spark-warehouse")
        # zstd: ~30% smaller than snappy at comparable speed — at 100 TB the
        # storage + scan-bandwidth saving dominates the extra encode CPU
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # workers fork from a daemon that has numpy/pandas/pyarrow loaded
        # and frozen (_daemon): one shared copy instead of one per worker
        .config("spark.python.daemon.module", "deidcm_spark._daemon")
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    # the class-data-sharing archive (_cds): its flags go after the final
    # extraJavaOptions, the caller's included, and SPARK_CONF_DIR points at
    # its empty directory only while the launcher reads it
    opts = (extra_conf or {}).get("spark.driver.extraJavaOptions", DRIVER_JAVA_OPTIONS)
    cds = _cds.plan(opts)
    if cds.options:
        b = b.config("spark.driver.extraJavaOptions", f"{opts} {cds.options}")
    saved = os.environ.get("SPARK_CONF_DIR")
    if cds.conf_dir:
        os.environ["SPARK_CONF_DIR"] = cds.conf_dir
    try:
        spark = b.getOrCreate()
    finally:
        if saved is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    _cds.after_launch(cds, spark)
    return spark
