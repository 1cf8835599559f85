"""SparkSession construction with the engine's scale-oriented defaults.

Tuned for the task's execution model: AQE on (runtime shuffle coalescing +
skew-join splitting, required by the north rule), Arrow batching for the
pandas-UDF scoring stage, and shuffle partitioning sized by cores locally —
on a real cluster override via ``LEVSIM_SHUFFLE_PARTITIONS`` (rule of thumb:
2-3x total executor cores, or rely on AQE coalescing from a high initial
value).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def iceberg_jar_path() -> str | None:
    """Probe for an Iceberg Spark runtime jar: $LEVSIM_ICEBERG_JAR first,
    then the pyspark distribution's jars directory.  Returns None when the
    environment ships no jar (this sandbox does — SURVEY.md §1), so callers
    can skip-not-silently."""
    p = os.environ.get("LEVSIM_ICEBERG_JAR")
    if p and os.path.exists(p):
        return p
    import pyspark

    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    try:
        for j in sorted(os.listdir(jars)):
            if j.startswith("iceberg-spark-runtime") and j.endswith(".jar"):
                return os.path.join(jars, j)
    except OSError:
        pass
    return None


ICEBERG_CATALOG = "levsim_ice"


def compute_partitions(spark: SparkSession, per_core: int) -> int:
    """Exchange width for a stage whose cost is per-row compute, not bytes.

    Ids-only pair tables and per-cluster election inputs are tiny in bytes,
    so AQE's byte-based sizing coalesces their exchanges to a handful of
    partitions and the downstream kernel stage runs nearly serial.  An
    explicit ``repartition(n, ...)`` at ``per_core`` x the cluster's total
    cores keeps it parallel (AQE leaves a user-specified width alone).
    ``LEVSIM_COMPUTE_PARTITIONS`` overrides every such width at once, for
    data volumes where byte-based sizing is the right call after all.
    """
    return int(os.environ.get("LEVSIM_COMPUTE_PARTITIONS", "0")) or (
        spark.sparkContext.defaultParallelism * per_core
    )


def get_spark(
    app_name: str = "levsim",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_size: int = 10_000,
    iceberg_warehouse: str | None = None,
) -> SparkSession:
    master = master or os.environ.get("LEVSIM_MASTER", f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("LEVSIM_SHUFFLE_PARTITIONS", "64"))
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("LEVSIM_MIN_PARTITION_SIZE", "1m"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_size))
        .config("spark.driver.memory", os.environ.get("LEVSIM_DRIVER_MEM", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if iceberg_warehouse is not None:
        # the real-catalog seam (BASELINE.json input_hint says Iceberg
        # tables): configured only when a runtime jar is actually present —
        # SnapshotTable's Parquet emulation stays the fallback
        jar = iceberg_jar_path()
        if jar is None:
            raise RuntimeError(
                "iceberg_warehouse requested but no iceberg-spark-runtime "
                "jar found (set LEVSIM_ICEBERG_JAR or install into the "
                "pyspark jars dir)"
            )
        b = (
            b.config("spark.jars", jar)
            .config(
                "spark.sql.extensions",
                "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
            )
            .config(
                f"spark.sql.catalog.{ICEBERG_CATALOG}",
                "org.apache.iceberg.spark.SparkCatalog",
            )
            .config(f"spark.sql.catalog.{ICEBERG_CATALOG}.type", "hadoop")
            .config(
                f"spark.sql.catalog.{ICEBERG_CATALOG}.warehouse", iceberg_warehouse
            )
        )
    return b.getOrCreate()
