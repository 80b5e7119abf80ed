"""SparkSession factory.

Tuned defaults for the two execution profiles we care about:

* local[N] single-JVM testing (the CI / bench profile) — shuffle partitions
  sized to cores, AQE on, Arrow on, UTC session timezone so results are
  directly comparable with the DuckDB oracle.
* large-cluster execution (the design target) — the same settings are the
  right starting point there too: AQE handles partition coalescing and skew
  joins at runtime, and `spark.sql.shuffle.partitions` becomes a floor that
  AQE re-plans from.

Reference parity note: the reference hand-rolls a worker pool clamped to
[1,10] goroutines (internal/sync/batch.go:90-107); in Spark, parallelism is
task scheduling + AQE — nothing to hand-tune per query.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
PACKAGE_DIR = os.path.dirname(os.path.abspath(__file__))
PACKAGE_PARENT = os.path.dirname(PACKAGE_DIR)
PACKAGE_ZIP = "jira_cdc_git_spark.zip"


def _default_driver_mem(cap_gb: int = 24, frac: float = 0.6) -> str:
    """min(cap, ~60% of MemTotal), floor 2g. /proc/meminfo is Linux-only;
    anywhere it can't be read the cap is used (the design box has 128 GiB)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_gb = int(line.split()[1]) / (1024 * 1024)
                    return f"{max(2, min(cap_gb, int(total_gb * frac)))}g"
    except OSError:
        pass
    return f"{cap_gb}g"


def _ship_package(spark: SparkSession) -> None:
    """Python workers unpickle functions that live in this package (the
    git fan-out writer, Python UDFs), so they must import it whatever the
    driver's cwd and PYTHONPATH: ship the package's sources as a zip with
    ``addPyFile``, once per context. The zip's directory is removed when
    the process exits."""
    import atexit
    import shutil
    import tempfile
    import zipfile

    sc = spark.sparkContext
    if PACKAGE_ZIP in sc._python_includes:
        return
    tmp = tempfile.mkdtemp(prefix="jira_cdc_git_spark-")
    atexit.register(shutil.rmtree, tmp, True)
    path = os.path.join(tmp, PACKAGE_ZIP)
    with zipfile.ZipFile(path, "w") as z:
        for dirpath, _dirs, files in os.walk(PACKAGE_DIR):
            for name in files:
                if name.endswith(".py"):
                    full = os.path.join(dirpath, name)
                    z.write(full, os.path.relpath(full, PACKAGE_PARENT))
    sc.addPyFile(path)


def get_spark(
    app_name: str = "jira_cdc_git_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    All settings are safe on a real cluster: AQE, skew-join handling,
    partition coalescing, Arrow transfers, UTC timestamps.
    """
    n = cpus or DEFAULT_CPUS
    # driver memory must reach the JVM before it launches: the builder
    # config below is a no-op in client mode once the gateway is up, so
    # inject it via PYSPARK_SUBMIT_ARGS for the first session in a process
    # local[N] is a single JVM: driver heap IS the executor heap. 8g starves
    # a 32-thread run once cached/checkpointed blocks accumulate (GC stalls
    # measured 10-20× on late queries in a long session). Default to
    # min(24g, ~60% of physical RAM) so hosts smaller than the 128 GiB
    # design box still launch; SPARK_GRAFT_DRIVER_MEM overrides either way.
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem()
    if (
        SparkSession.getActiveSession() is None
        and "PYSPARK_SUBMIT_ARGS" not in os.environ
    ):
        os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-memory {mem} pyspark-shell"
    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{n}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Write session-zoned timestamps as INT64 MICROS, not the legacy
        # INT96 default: INT96 is deprecated, bloats scans, and pyarrow
        # reports it as timestamp[ns] — which fooled the events-nanos
        # footer sniff (sources/registry) on our own round-tripped files.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark
