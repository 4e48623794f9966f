"""SparkSession factory.

The reference runs on Snowflake warehouses with two access paths to one
Iceberg warehouse (external tables vs a catalog-linked database —
``scripts/10_external_tables.sql:45-88`` vs
``scripts/11_catalog_linked_database.sql:50-55`` in the reference).  Here a
single SparkSession carries both "catalogs"; when an Iceberg runtime jar is
on the classpath the factory wires real Iceberg catalogs, otherwise the
pure-PySpark lakehouse catalog in :mod:`.sources.lakehouse` provides the
same semantics (snapshots, append, time travel, metadata-only replication)
over parquet.

Scale posture (100 TB): AQE on (runtime shuffle-partition coalescing + skew
join), broadcast threshold left at a real value so 5-row dims broadcast,
shuffle partitions sized by env, UTC session timezone so timestamp semantics
are stable across engines.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession

#: Maven coordinate used when an Iceberg runtime is available; never
#: downloaded implicitly (offline test environments have no network).
ICEBERG_PACKAGE = "org.apache.iceberg:iceberg-spark-runtime-4.0_2.13"


def _iceberg_jar_present() -> bool:
    import glob

    import pyspark

    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    return bool(glob.glob(os.path.join(jars, "iceberg-spark-runtime*.jar")))


def build_session(
    app_name: str = "snowflake-iceberg-cld-bcdr-demo-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    warehouse: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with engine defaults.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (driver contract);
    shuffle partitions default to the same so local runs don't pay for
    200 empty reducers (at cluster scale this is overridden upward).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # PySpark 4 otherwise wraps every Column/functions call in a
        # Python call-site capture (~5 py4j round trips per call); errors
        # still raise, without the Python call-site block
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if warehouse:
        b = b.config("spark.sql.warehouse.dir", warehouse)
    if _iceberg_jar_present():
        # Dual Iceberg catalogs over one warehouse path — mirrors the
        # reference's EXT + CLD access paths to the same Glue/S3 data.
        wh = warehouse or "/tmp/lakehouse"
        for cat in ("ext", "cld"):
            b = (
                b.config(f"spark.sql.catalog.{cat}", "org.apache.iceberg.spark.SparkCatalog")
                .config(f"spark.sql.catalog.{cat}.type", "hadoop")
                .config(f"spark.sql.catalog.{cat}.warehouse", wh)
            )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def get_session() -> SparkSession:
    """Return the active session, building one with defaults if needed."""
    active = SparkSession.getActiveSession()
    return active if active is not None else build_session()


@contextlib.contextmanager
def cache_scope(spark: SparkSession | None = None):
    """Bound the lifetime of any DataFrame/RDD caches created inside the
    block: on exit, every persistent RDD that did not exist on entry is
    unpersisted (non-blocking).

    The library's relational/dedup/similarity operators no longer cache
    internally (r8 removed the last ``persist`` contracts), but USER code
    composing them may still ``df.persist()`` around a fan-out — this
    scope releases those without nuking caches the caller set up earlier
    (unlike ``spark.catalog.clearCache()``).

    Caveat: for ``df.persist()`` the SQL ``CacheManager`` entry survives
    the RDD-level unpersist, so a later reuse of the SAME DataFrame
    recomputes and re-caches rather than erroring — acceptable for a
    cleanup scope; call ``df.unpersist()`` on handles you still hold for
    a full release."""
    spark = spark or get_session()
    jsc = spark.sparkContext._jsc
    before = {int(rid) for rid in jsc.getPersistentRDDs().keySet().toArray()}
    try:
        yield spark
    finally:
        after = jsc.getPersistentRDDs()
        for rid in list(after.keySet().toArray()):
            if int(rid) not in before:
                after.get(rid).unpersist(False)


def cluster_conf(
    executors: int = 1000,
    cores_per_executor: int = 4,
    executor_mem_gb: int = 16,
    dataset_tb: float = 100.0,
    target_partition_mb: int = 192,
) -> dict[str, str]:
    """Recommended Spark conf for running this engine on a real cluster
    — the sizing arithmetic the local defaults deliberately skip.

    The rules (standard capacity math, parameterized so ops can rerun
    it per deployment):

    - ``shuffle.partitions`` — compressed shuffle bytes / target
      partition size, floored at 2 x total cores so every core has work
      even on small stages; AQE coalesces down at runtime, so erring
      high is cheap and erring low (spilling) is not.
    - ``files.maxPartitionBytes`` — scan split size; 192 MB keeps
      row-group alignment for 128-256 MB parquet files.
    - ``advisoryPartitionSizeInBytes`` — what AQE coalesces toward.
    - ``autoBroadcastJoinThreshold`` — sized to a small fraction of
      executor memory; every dim-table join in this engine fits far
      below it, and the fact-fact joins are never broadcast anyway.
    - skew-join thresholds — let AQE split any shuffle partition > 2 x
      the advisory size (hot LSH bands, hot join keys).
    """
    total_cores = executors * cores_per_executor
    # compressed shuffle is typically ~1/3 of raw scanned bytes for the
    # agg/join-heavy shapes here; conservative 0.5 sizing factor
    shuffle_bytes = dataset_tb * (1 << 40) * 0.5
    parts = max(int(shuffle_bytes / (target_partition_mb << 20)), 2 * total_cores)
    return {
        "spark.sql.shuffle.partitions": str(parts),
        "spark.sql.files.maxPartitionBytes": str(target_partition_mb << 20),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(target_partition_mb << 20),
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": str(
            2 * (target_partition_mb << 20)
        ),
        "spark.sql.autoBroadcastJoinThreshold": str(
            min(256 << 20, (executor_mem_gb << 30) // 64)
        ),
        "spark.executor.instances": str(executors),
        "spark.executor.cores": str(cores_per_executor),
        "spark.executor.memory": f"{executor_mem_gb}g",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
    }
