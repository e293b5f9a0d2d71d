"""SparkSession factory with scale-oriented defaults.

Tuned for the test harness (local[N], 128 GiB) but every setting is the one
you would also want on a 1000-executor cluster: AQE on (runtime re-plan,
skew-join handling, partition coalescing), sensible shuffle partitioning,
Arrow for any pandas interchange, and Parquet pushdown left at its defaults
(on).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_warehouse_dir() -> str:
    import hashlib
    import tempfile

    tag = hashlib.md5(os.getcwd().encode()).hexdigest()[:8]
    return os.path.join(
        tempfile.gettempdir(), f"octopusdb-warehouse-{os.getuid()}-{tag}"
    )


def get_spark(app_name: str = "octopusdb-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # catalog tables (bucketed layouts) land outside the repo tree, in a
        # per-user, per-checkout location so concurrent users/checkouts on
        # one host never collide on managed-table paths
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", _default_warehouse_dir()),
        )
    )
    return builder.getOrCreate()


TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
