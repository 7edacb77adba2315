"""SparkSession construction tuned for this engine.

Local-mode defaults are sized from the host: local[<usable CPUs>] and a
driver heap of half the physical memory, overridable with
$SPARK_GRAFT_CPUS and $SPARK_GRAFT_DRIVER_MEM. On a real cluster the
same SparkSession options apply, with
spark.sql.shuffle.partitions sized to ~2-3x total cores and AQE left on
to coalesce and to split skewed partitions at runtime.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_cpus() -> int:
    """``$SPARK_GRAFT_CPUS``, else the CPUs this process may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def _default_driver_memory() -> str:
    """``$SPARK_GRAFT_DRIVER_MEM``, else half the host's MemTotal (at
    least 1 GiB): in local mode the driver JVM is the whole engine, and
    the rest is left to Python workers, the page cache and the OS."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1024, total // 2**20 // 2)}m"


def get_spark(
    app_name: str = "timeperiods-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    AQE is enabled for runtime partition coalescing and skew-join
    splitting — the latter is the first line of defense against skewed
    (source, bin) keys in the range join (see SURVEY.md §4.3); explicit
    salting (functions.grid.salted_repartition) is the second.
    """
    # Pandas-UDF closures reference this package by module name; Python
    # worker processes unpickle them and need the package importable.
    # Local mode: workers inherit the driver env, so exporting
    # PYTHONPATH before the JVM starts suffices. Cluster mode: ship the
    # package with spark-submit --py-files (see jobs/run_tiers.py).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )

    cpus = _default_cpus()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    extra_conf = dict(extra_conf or {})
    # Allocation-heavy operators (explode(sequence(...)) in the rollup
    # and bin-join paths) churn short-lived arrays; measured locally,
    # ParallelGC with a large young gen cuts their steady-state wall
    # clock ~2.5x vs default G1. Executor JVMs on a real cluster take
    # the same flags via spark.executor.extraJavaOptions.
    extra_conf.setdefault(
        "spark.driver.extraJavaOptions", "-XX:+UseParallelGC"
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory or _default_driver_memory())
        .config("spark.ui.enabled", "false")
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
