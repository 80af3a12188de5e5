"""SparkSession factory tuned for the engine.

Local testing runs on local[N]; the same settings are what we'd ship on a
1000-executor cluster: AQE on (runtime coalesce, skew-join split), sane
shuffle partitioning, Arrow for any pandas interchange, and Iceberg catalog
wiring when the runtime jars are on the classpath.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "otel-iceberg-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    warehouse: str | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing + skew-join splitting — the
        # reference's "single-partition fast path" (partition.go:100-116)
        # and skew handling generalized, for free.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for pandas UDF / toPandas interchange (the only Python hot
        # path we allow; everything else stays JVM-side).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Timestamps: engine semantics are UTC throughout (reference uses
        # UTC epoch-derived partitioning, partition.go:74-98).
        .config("spark.sql.session.timeZone", "UTC")
        # Spark has no ns timestamp type: read parquet TIMESTAMP(NANOS)
        # (events.ts) as epoch-ns LongType instead of erroring; the table
        # loader converts ns -> us TimestampType, mirroring the reference's
        # ns->us truncation policy (traces.go:141-142, README.md:430).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # INT64 micros instead of deprecated INT96: footers then carry
        # min/max stats for timestamp columns, which the Iceberg
        # manifests record as per-file bounds (file-skipping); Iceberg
        # itself requires int64 timestamps.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # ~128MB input splits — good default for local[32] and clusters.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if warehouse:
        # Iceberg local/hadoop catalog on a filesystem warehouse; only
        # effective when the runtime jar is present.
        b = (
            b.config(
                "spark.sql.extensions",
                "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
            )
            .config("spark.sql.catalog.otel", "org.apache.iceberg.spark.SparkCatalog")
            .config("spark.sql.catalog.otel.type", "hadoop")
            .config("spark.sql.catalog.otel.warehouse", warehouse)
        )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
