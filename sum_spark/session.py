"""SparkSession factory with scale-appropriate defaults.

Local testing runs on local[N]; the configuration is written for the
100 TB posture (AQE with partition coalescing + skew-join handling,
shuffle partitions sized explicitly, Arrow for every Python<->JVM hop)
so the same code is cluster-ready.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# At 100 TB on ~1000 executors these would be set per-cluster; the point of
# fixing them here is that every operator in the package is written assuming
# AQE + explicit shuffle sizing, never the 200-partition default.
_BASE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # files.maxPartitionBytes default 128m is right for the 100 TB posture;
    # left untouched so parquet splits stay aligned with row groups.
}


def _driver_mem() -> str:
    """$SPARK_GRAFT_DRIVER_MEM, else about 55% of the machine's memory
    (MemTotal in /proc/meminfo): local[N] runs every executor inside the
    driver JVM, and the rest is left to Python workers and the OS."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return f"{int(line.split()[1]) * 55 // 100 // 1024}m"
    except OSError:
        pass
    return "4g"


def get_spark(app_name: str = "sum_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a local session tuned for this engine.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    mem = _driver_mem()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        # local[N] = one JVM doing all executor work: the driver heap IS the
        # cluster memory. A FIXED-size heap matters more than a big one on
        # this virtualized host: with -Xmx-only sizing the JVM repeatedly
        # commits/uncommits tens of GB and the kernel's page zeroing shows
        # up as 30-80% system time — measured 5-50s swings on identical
        # dedup runs at 64g growable, flat ~2s at 20g fixed. -Xms==-Xmx
        # means pages commit lazily ONCE and never uncommit (AlwaysPreTouch
        # would also work but costs ~150s of upfront zeroing in this VM).
        # The size itself comes from the machine (_driver_mem).
        .config("spark.driver.memory", mem)
        # Whole-stage codegen emits one class per stage; a long session
        # running dozens of queries fills the JVM's default ~240 MB code
        # cache, after which the JIT stops compiling and the interpreted
        # fallback slows expression-heavy operators 10-50x. Size it for a
        # query-server lifetime.
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{mem} "
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in _BASE_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
