"""Small-file compaction: the maintenance sibling of orphan recovery.

Why it exists: the ingestion pipeline appends one parquet file per
executor-task per micro-batch into each Hive partition
(sinks/parquet_sink.py). At 100 TB with hourly partitions that is
thousands of small files per partition within days — the classic
small-file problem: per-file open/footer cost dominates scans, listings
balloon, and the 128 MB split planner gets nothing to split. The
reference repairs *misplaced* files (recovery/repartitioner.go analog,
R6) but has no defragmentation story; any long-running deployment needs
one.

Shape:
* `plan_compaction` — pure DataFrame over the scanner's listing (S5):
  per-partition file count / byte totals and the target file count at
  `target_bytes`. Metadata-scale, fully declarative, same inputs as the
  orphan reconciler.
* `compact_partition` — one distributed job per partition: read the
  partition's parquet leaves, `repartition(target_files)`, write to a
  temp dir, verify row counts, then swap via the Hadoop FileSystem API
  (works for file:// and s3a:// alike).

Non-atomicity note (documented, deliberate): raw-Hive tables have no
metadata transaction, so the swap window (delete olds, move news) can
expose a partial partition to a concurrent reader — identical to every
Hive-table compactor. Readers that must not see it go through the
Iceberg catalog sinks instead (catalog_type fs/rest), where compaction
is `Table.rewrite_data_files` and the swap is a snapshot commit
(sinks/iceberg_fs.py); this module is the raw-Parquet-mode counterpart.

At cluster scale, partitions compact independently — submit
`compact_partition` jobs from a thread pool (Spark schedules them
concurrently within one application); the driver loop here is
metadata-scale only.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .scanner import scan_files

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024  # align with files.maxPartitionBytes


def partition_file_stats(files: DataFrame) -> DataFrame:
    """Per-partition-directory file stats from a scanner listing."""
    return (
        files.withColumn("partition_dir", F.regexp_replace("uri", "/[^/]+$", ""))
        .groupBy("partition_dir")
        .agg(
            F.count("*").alias("n_files"),
            F.sum("size").alias("total_bytes"),
        )
    )


def plan_compaction(
    files: DataFrame,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    min_files: int = 2,
) -> DataFrame:
    """Partitions worth compacting, with the file count to compact to.

    A partition qualifies when merging would actually reduce file count:
    n_files > max(1, ceil(total_bytes / target_bytes)) and n_files >=
    min_files. Everything is a single hash aggregation over the listing.
    """
    stats = partition_file_stats(files)
    target = F.greatest(
        F.lit(1), F.ceil(F.col("total_bytes") / F.lit(float(target_bytes)))
    ).cast("int")
    return (
        stats.withColumn("target_files", target)
        .filter((F.col("n_files") > F.col("target_files")) & (F.col("n_files") >= min_files))
        .select("partition_dir", "n_files", "total_bytes", "target_files")
    )


@dataclass(frozen=True)
class CompactionResult:
    partition_dir: str
    files_before: int
    files_after: int
    rows: int


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath, jvm


def compact_partition(
    spark: SparkSession, partition_dir: str, target_files: int
) -> CompactionResult:
    """Rewrite one partition directory into `target_files` parquet files.

    Read -> repartition -> write tmp -> count-verify -> swap. The
    repartition is round-robin (no key), so output files are
    near-uniform in size regardless of input skew.
    """
    before = spark.read.parquet(partition_dir)
    n_rows = before.count()
    tmp_dir = partition_dir.rstrip("/") + ".compact-tmp"

    before.repartition(target_files).write.mode("overwrite").parquet(tmp_dir)

    n_after = spark.read.parquet(tmp_dir).count()
    if n_after != n_rows:
        raise RuntimeError(
            f"compaction row-count mismatch in {partition_dir}: "
            f"{n_rows} before vs {n_after} after; aborting swap"
        )

    fs, part_path, jvm = _hadoop_fs(spark, partition_dir)
    old_files = [
        st.getPath()
        for st in fs.listStatus(part_path)
        if st.isFile() and st.getPath().getName().endswith(".parquet")
    ]
    _tmp_fs, tmp_path, _ = _hadoop_fs(spark, tmp_dir)
    new_files = [
        st.getPath()
        for st in fs.listStatus(tmp_path)
        if st.isFile() and st.getPath().getName().endswith(".parquet")
    ]
    # swap window starts: delete olds, move news in, drop tmp dir
    for p in old_files:
        fs.delete(p, False)
    for i, p in enumerate(new_files):
        dest = jvm.org.apache.hadoop.fs.Path(
            part_path, f"compacted-{i:05d}.parquet"
        )
        fs.rename(p, dest)
    fs.delete(tmp_path, True)

    return CompactionResult(
        partition_dir=partition_dir,
        files_before=len(old_files),
        files_after=len(new_files),
        rows=n_rows,
    )


def compact_table(
    spark: SparkSession,
    root: str,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    min_files: int = 2,
    dry_run: bool = False,
) -> list[CompactionResult]:
    """Plan + execute compaction for every qualifying partition under a
    warehouse root. dry_run returns the plan as zero-file results without
    touching storage (mirrors the reconciler's X5 dry-run contract)."""
    plan = plan_compaction(
        scan_files(spark, root), target_bytes=target_bytes, min_files=min_files
    ).collect()  # metadata-scale: one row per qualifying partition
    if dry_run:
        return [
            CompactionResult(r.partition_dir, r.n_files, r.target_files, -1)
            for r in plan
        ]
    return [
        compact_partition(spark, r.partition_dir, r.target_files) for r in plan
    ]
