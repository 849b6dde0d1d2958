"""SparkSession factory with the engine's standard configuration.

Tuned for correctness-at-scale defaults: Arrow-batched UDF transfer, AQE
with skew-join handling, and a shuffle-partition count appropriate for
the local test harness (the real cluster overrides via spark-submit
conf).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _ensure_package_on_executor_path() -> None:
    """Local-mode executor Python workers inherit os.environ, not the
    driver's sys.path — put the package's parent dir on PYTHONPATH so
    UDFs can unpickle.  (On a real cluster, ship the package with
    ``spark-submit --py-files s2_geometry_rust_spark.zip`` instead.)"""
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_parent + (os.pathsep + existing if existing else "")
        )


def default_cpus() -> int:
    """``SPARK_GRAFT_CPUS`` when set, else the cores this process may
    run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS",
                              len(os.sched_getaffinity(0))))


def get_spark(app: str = "s2spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Local-mode session (``local[cpus]``, default ``default_cpus()``)
    with the engine's configuration.

    Its Python workers find the package on ``PYTHONPATH`` and are forked
    by the engine's daemon module (``spark.python.daemon.module`` =
    ``s2_geometry_rust_spark._daemon``), which installs the package's
    stat-keyed zip rule before the first fork: no task re-reads
    ``pyspark.zip``'s directory, whether or not it imports the package.
    """
    _ensure_package_on_executor_path()
    if cpus is None:
        cpus = default_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.python.daemon.module", "s2_geometry_rust_spark._daemon")
        .getOrCreate()
    )
