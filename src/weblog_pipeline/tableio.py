"""TableIO seam: Iceberg when a catalog is configured, parquet paths otherwise.

The production design targets Iceberg tables (`spark.read.format("iceberg")`
/ `df.writeTo(tbl).append()`, sinks partitioned by days(warc_ts)); this
sandbox has no Iceberg runtime jar and no network, so the seam falls back to
schema-identical parquet directories with the same write semantics
(append / dynamic partition overwrite). Activate Iceberg via
`--packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13` plus a
catalog conf and an `iceberg:<namespace>` location; call sites do not
change.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession


def _iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class TableIO:
    """Read/write seam. `location` is a catalog namespace (Iceberg) or a
    base directory (parquet).

    The backend is EXPLICIT: the scheme prefix `iceberg:<namespace>`
    selects Iceberg, anything else is a parquet directory. No inference
    from path shape + classpath: a relative output directory must never
    silently become catalog table writes."""

    def __init__(self, spark: SparkSession, location: str):
        self.spark = spark
        self.use_iceberg = location.startswith("iceberg:")
        if self.use_iceberg:
            location = location[len("iceberg:"):]
            if not _iceberg_available(spark):
                raise ValueError(
                    "iceberg backend requested but no Iceberg runtime on the "
                    "classpath (add --packages org.apache.iceberg:iceberg-spark-runtime)"
                )
        self.location = location

    def target(self, table: str) -> str:
        """`<namespace>.<table>` in the catalog, else a directory."""
        if self.use_iceberg:
            return f"{self.location}.{table}"
        return os.path.join(self.location, table)

    def read(self, table: str) -> DataFrame:
        if self.use_iceberg:
            return self.spark.read.format("iceberg").load(self.target(table))
        return self.spark.read.parquet(self.target(table))

    def append(self, df: DataFrame, table: str) -> None:
        if self.use_iceberg:
            df.writeTo(self.target(table)).append()
            return
        df.write.mode("append").parquet(self.target(table))

    def overwrite_partitions(
        self, df: DataFrame, table: str, partition_by: list[str]
    ) -> None:
        """Backfill semantics: replace ONLY the partitions present in
        `df`, leaving every other partition untouched — re-running one
        day's extraction must not truncate the table. Iceberg gives this
        natively (overwritePartitions); the parquet seam uses Spark's
        dynamic partitionOverwriteMode as an option of this one write."""
        if self.use_iceberg:
            df.writeTo(self.target(table)).overwritePartitions()
            return
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_by)
            .parquet(self.target(table))
        )

    def delete_partitions(self, table: str, column: str, value: str) -> None:
        """Drop every row of `table` whose partition `column` equals
        `value` (a no-op when the table does not exist)."""
        if not self.exists(table):
            return
        if self.use_iceberg:
            self.spark.sql(
                f"DELETE FROM {self.target(table)} WHERE {column} = :value",
                args={"value": value},
            )
            return
        utils = self.spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils  # noqa: SLF001
        name = f"{column}={utils.escapePathName(value)}"
        for root, dirs, _ in os.walk(self.target(table)):
            # descend only through the partition levels above `column`
            for d in [d for d in dirs if d.startswith(f"{column}=")]:
                dirs.remove(d)
                if d == name:
                    shutil.rmtree(os.path.join(root, d))

    def exists(self, table: str) -> bool:
        if self.use_iceberg:
            return self.spark.catalog.tableExists(self.target(table))
        return os.path.exists(self.target(table))


def write_bucketed(
    df: DataFrame,
    table_name: str,
    path: str,
    buckets: int,
    bucket_col: str,
    sort_col: str | None = None,
) -> None:
    """Bucketed (hash-clustered) table write — the co-located-join layout:
    two tables bucketed by the same key into the same bucket count join
    WITHOUT an Exchange (each bucket pair is joined in place), which at
    100 TB removes the dominant shuffle from repeated fact-to-fact joins.

    Spark native bucketing requires the table catalog (saveAsTable); the
    explicit path keeps the data external so the parquet files live next
    to the rest of the namespace. Iceberg's equivalent is a bucket(n, col)
    partition transform — same call shape when the catalog is configured.
    """
    writer = df.write.mode("overwrite").option("path", path).bucketBy(
        buckets, bucket_col
    )
    if sort_col is not None:
        writer = writer.sortBy(sort_col)
    writer.format("parquet").saveAsTable(table_name)


def compact(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    order_cols: list[str] | None = None,
) -> int:
    """Small-file compaction for a parquet output directory — the
    maintenance pass every long-running 100 TB pipeline needs: streaming
    micro-batches and per-sink fan-out writes accumulate thousands of
    KB-scale files whose per-file open/footer cost eventually dominates
    scans. Rewrite the directory into ceil(bytes / target) files
    (range-clustered when order_cols is given, so downstream range scans
    prune), then swap directories. The swap is a TWO-STEP rename (POSIX
    has no atomic directory exchange): a crash between the renames leaves
    the data intact in `<path>._compact_old`, and the next invocation
    self-heals by restoring it before compacting. Iceberg's equivalent is
    the rewrite_data_files procedure; this is the parquet-seam twin.

    Returns the new file count.
    """
    import math

    tmp = path.rstrip("/") + "._compact_tmp"
    old = path.rstrip("/") + "._compact_old"
    # self-heal from a previous crashed or interrupted run
    if os.path.exists(old):
        if os.path.exists(path):
            shutil.rmtree(old)  # prior swap completed; stale backup
        else:
            os.rename(old, path)  # crashed mid-swap; restore the table
    if os.path.exists(tmp):
        shutil.rmtree(tmp)

    df = spark.read.parquet(path)
    total = 0
    for f in df.inputFiles():
        local = f[len("file:"):] if f.startswith("file:") else f
        try:
            total += os.path.getsize(local)
        except OSError:
            total = 0
            break
    if total <= 0:
        # non-local or unstat-able storage: fall back to Spark's estimate
        total = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    n_files = max(1, math.ceil(total / target_file_bytes))
    out = (
        df.repartitionByRange(n_files, *order_cols)
        if order_cols
        else df.repartition(n_files)
    )
    out.write.mode("overwrite").parquet(tmp)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return n_files
