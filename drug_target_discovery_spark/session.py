"""SparkSession factory.

Tuned for the test environment (single-JVM ``local[N]``) but every setting is
chosen to also be correct on a 1000-executor cluster:

- AQE on (coalesce shuffle partitions, skew-join splitting, runtime
  join-strategy demotion) — at 100 TB the static shuffle-partition count is
  always wrong; AQE fixes it at runtime.
- Arrow on — every Pandas-UDF boundary is Arrow-batched, never per-row pickling.
- UTC session timezone — deterministic event-time semantics regardless of host.
- shuffle partitions default to the local core count; on a real cluster this
  would be set to ~2-3x total cores (or left to AQE's initialPartitionNum).
- driver heap sized to the host: half of physical memory, at most 48g
  (``$SPARK_DRIVER_MEMORY`` overrides). In local mode the driver JVM is the
  whole engine, and the Python workers live beside it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half of MemTotal (from /proc/meminfo) to the nearest GiB, capped at 48g;
    48g where /proc/meminfo is unavailable."""
    cap = 48
    try:
        with open("/proc/meminfo") as f:
            kib = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return f"{cap}g"
    return f"{max(1, min(cap, round(kib / 2 / (1 << 20))))}g"


def get_spark(
    app_name: str = "drug-target-discovery-spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``cpus`` controls local parallelism and defaults to ``$SPARK_GRAFT_CPUS``
    (driver contract) or 32.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # Executor Python workers must import this package for pandas_udf /
    # mapInPandas kernels. Driver sys.path does NOT propagate to workers —
    # in local mode they inherit the env, so export PYTHONPATH; on a real
    # cluster ship the package instead (spark.submit.pyFiles / a wheel).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        # vectorized parquet reader + pushdown are on by default; pin anyway
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        # testdata parquet carries TIMESTAMP(NANOS) which Spark has no type
        # for; read as long and normalize in sources.tables.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    # shuffle/spill scratch on tmpfs when it can actually hold it: this box
    # has 128 GiB RAM and a throttled disk, so RAM-backed scratch removes
    # iowait spikes from bench timings. Guarded — a standard container's
    # 64 MB /dev/shm would turn every sizable shuffle into ENOSPC, so fall
    # back to Spark's default local dir unless /dev/shm has >= 16 GiB free.
    # (Respects SPARK_LOCAL_DIRS, which Spark itself also honors.) On a real
    # cluster this is the executors' local SSD setting; the 100 TB design
    # never depends on it.
    local_dirs = os.environ.get("SPARK_LOCAL_DIRS")
    if local_dirs is None:
        try:
            st = os.statvfs("/dev/shm")
            if st.f_bavail * st.f_frsize >= 16 << 30:
                local_dirs = "/dev/shm/spark-local"
        except OSError:
            pass
    if local_dirs:
        builder = builder.config("spark.local.dir", local_dirs)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
